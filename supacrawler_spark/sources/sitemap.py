"""Sitemap source — XML urlset/sitemapindex parsing, JVM-native.

The reference discovers URLs only by following links (mapper/
service.go OnHTML("a[href]")); its robots.txt handling tokenizes but
ignores ``Sitemap:`` lines (mirrored in robotskit.py:70). A web-scale
crawler seeds from sitemaps too — Common Crawl's seed donors are
largely sitemap-fed — so this module adds the missing source:

- assembly AND parse are pure ``pyspark.sql.functions`` column
  expressions (``regexp_extract_all`` over the ``<url>`` blocks, then
  per-field ``regexp_extract``) — zero Python in the hot path, the
  whole parse stays inside whole-stage codegen;
- ``sitemap_index_locs`` handles the two-level ``<sitemapindex>``
  form (an index names child sitemaps; a second fetch round brings
  their bodies — in batch terms: parse index → join bodies → parse
  urlsets);
- ``seeds_from_sitemaps`` projects parsed locs into the crawl
  engine's ``(url, seed_rank)`` seeds-DataFrame contract, so a parsed
  sitemap feeds ``run_crawl`` directly: a seeds DataFrame is
  canonicalized by the vectorized kernel into the parquet seeds dim
  (plans/crawl.py::_SeedSet) — no driver round-trip, Common-Crawl-
  scale loc lists stay distributed.

100-TB shape: one sitemap document is one row (sitemaps cap at 50k
URLs / 50 MB by spec, so a row is bounded); parsing is a map-only
projection — no shuffle, no UDF; the explode fans each document into
its locs inside the same stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGEFREQS = ("always", "hourly", "daily", "weekly")

_URL_BLOCK_RE = r"<url>(.*?)</url>"
_SM_BLOCK_RE = r"<sitemap>(.*?)</sitemap>"
_LOC_RE = r"<loc>([^<]*)</loc>"
_LASTMOD_RE = r"<lastmod>([^<]*)</lastmod>"
_FREQ_RE = r"<changefreq>([^<]*)</changefreq>"
_PRIO_RE = r"<priority>([^<]*)</priority>"


def _entry_expr():
    """One <url> entry as a native column expression over
    (doc_id, source) — every field is closed-form in doc_id, so the
    DuckDB oracle can state the parsed output a priori."""
    loc = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.org/doc/"), F.col("doc_id"))
    lastmod = F.date_format(
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("doc_id") % 365).cast("int")), "yyyy-MM-dd")
    freq = F.element_at(F.array(*[F.lit(c) for c in CHANGEFREQS]),
                        (F.col("doc_id") % 4).cast("int") + 1)
    prio = F.concat(F.lit("0."), (F.col("doc_id") % 10).cast("string"))
    return F.concat(
        F.lit("<url><loc>"), loc, F.lit("</loc><lastmod>"), lastmod,
        F.lit("</lastmod><changefreq>"), freq,
        F.lit("</changefreq><priority>"), prio,
        F.lit("</priority></url>"))


def docs_as_sitemaps(spark, sf_dir: str) -> DataFrame:
    """Fixture: one urlset sitemap document per source, entries in
    doc_id order (sort_array on the (doc_id, entry) struct keeps the
    assembly deterministic under any upstream partitioning)."""
    from supacrawler_spark.session import read_table
    docs = (read_table(spark, sf_dir, "documents")
            .select("doc_id", "source"))
    entries = docs.select(
        "source", F.struct("doc_id", _entry_expr().alias("e")).alias("s"))
    return (entries.groupBy("source")
            .agg(F.concat(
                F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset>'),
                F.concat_ws("", F.transform(
                    F.sort_array(F.collect_list("s")), lambda s: s["e"])),
                F.lit("</urlset>")).alias("xml")))


def parse_sitemap(sitemaps: DataFrame, xml_col: str = "xml",
                  keep_cols=()) -> DataFrame:
    """Parse urlset documents into one row per <url> entry —
    native regexp extraction only. Missing optional fields
    (lastmod/changefreq/priority) come back as nulls."""
    blocks = sitemaps.select(
        *keep_cols,
        F.explode(F.regexp_extract_all(
            F.col(xml_col), F.lit(_URL_BLOCK_RE), F.lit(1))).alias("b"))

    def _opt(rx):
        v = F.regexp_extract("b", rx, 1)
        return F.when(v == "", None).otherwise(v)

    return blocks.select(
        *keep_cols,
        F.regexp_extract("b", _LOC_RE, 1).alias("loc"),
        _opt(_LASTMOD_RE).alias("lastmod"),
        _opt(_FREQ_RE).alias("changefreq"),
        (_opt(_PRIO_RE).cast("decimal(2,1)") * 10)
        .cast("int").alias("priority_e1"))


def sitemap_index_locs(indexes: DataFrame, xml_col: str = "xml",
                       keep_cols=()) -> DataFrame:
    """Parse <sitemapindex> documents into (loc, lastmod) child rows."""
    blocks = indexes.select(
        *keep_cols,
        F.explode(F.regexp_extract_all(
            F.col(xml_col), F.lit(_SM_BLOCK_RE), F.lit(1))).alias("b"))
    v = F.regexp_extract("b", _LASTMOD_RE, 1)
    return blocks.select(
        *keep_cols,
        F.regexp_extract("b", _LOC_RE, 1).alias("loc"),
        F.when(v == "", None).otherwise(v).alias("lastmod"))


def seeds_from_sitemaps(sitemaps: DataFrame,
                        xml_col: str = "xml") -> DataFrame:
    """Project parsed sitemaps into run_crawl's seeds-DataFrame
    contract: (url, seed_rank). Rank orders by (priority DESC,
    loc ASC) — spec priority first, deterministic tiebreak — via a
    global window (the seed list is the small side of the crawl;
    the rank is consumed once into the seeds dim)."""
    from pyspark.sql import Window
    parsed = parse_sitemap(sitemaps, xml_col)
    w = Window.orderBy(F.col("priority_e1").desc_nulls_last(),
                       F.col("loc").asc())
    return parsed.select(
        F.col("loc").alias("url"),
        (F.row_number().over(w) - 1).cast("int").alias("seed_rank"))


def sitemap_parse(spark, sf_dir: str) -> DataFrame:
    """Driver query: documents → per-source sitemap XML → parsed
    entries. Assembly and parse are both native column expressions;
    any drift in either shows as a value mismatch vs the closed-form
    oracle."""
    return parse_sitemap(docs_as_sitemaps(spark, sf_dir),
                         keep_cols=("source",))


def sitemap_parse_oracle_sql() -> str:
    return (
        "SELECT source, "
        "'https://' || source || '.example.org/doc/' || doc_id AS loc, "
        "strftime(DATE '2024-01-01' + "
        "to_days(CAST(doc_id % 365 AS INT)), '%Y-%m-%d') AS lastmod, "
        "CASE doc_id % 4 WHEN 0 THEN 'always' WHEN 1 THEN 'hourly' "
        "WHEN 2 THEN 'daily' ELSE 'weekly' END AS changefreq, "
        "CAST(doc_id % 10 AS INT) AS priority_e1 "
        "FROM documents")
