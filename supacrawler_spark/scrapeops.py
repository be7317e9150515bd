"""Scrape-service page diagnostics (SURVEY.md §2.2 F8, §2.4 A4).

Batch re-expression of the reference's live-browser page checks:

- ``cloudflare_blocked``: the Cloudflare-challenge detector
  (isCloudflareBlocked, internal/core/scrape/service.go:1077-1107) as
  a native Spark column expression — pure ``contains`` algebra over
  (status_code, title, content), JVM-side, codegen-friendly.
- ``signature_of_html`` / ``content_signature``: the page content
  signature (getContentSignature, scrape/service.go:917-1015) —
  visible-text length, element/link/loading-indicator counts and the
  JS 32-bit rolling content hash — computed from static html by the
  shared htmlkit DOM in one Arrow-batched pass.
- ``significant_change``: the JS-rendering change heuristics
  (hasSignificantContentChange, scrape/service.go:1017-1074) as a
  native boolean column over an (initial, final) signature pair.

Static-parse divergence (documented): the browser evaluates computed
CSS (display:none / visibility:hidden) when collecting visible text
and element counts; a batch engine over raw html bytes cannot, so
hidden-by-stylesheet elements count as visible here. Inline
``script/style/noscript`` exclusion — the part that matters for
content pages — matches the reference exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from supacrawler_spark import htmlkit as H
from supacrawler_spark.session import read_table, split_small_scan

# querySelectorAll('*') filter list, scrape/service.go:955-961
_NON_CONTENT_TAGS = frozenset(
    ("script", "style", "noscript", "meta", "link", "title"))
# treewalker reject list, scrape/service.go:936-939
_TEXT_SKIP_TAGS = frozenset(("script", "style", "noscript"))
# loading-indicator selector, scrape/service.go:966-969
_LOADING_CLASSES = frozenset(
    ("loading", "spinner", "skeleton", "placeholder", "loader", "shimmer"))

SIGNATURE_SCHEMA = StructType([
    StructField("text_length", IntegerType()),
    StructField("element_count", IntegerType()),
    StructField("link_count", IntegerType()),
    StructField("async_load_indicators", IntegerType()),
    StructField("content_hash", StringType()),
])


def _js_string_hash(text: str) -> str:
    """The page's own change-detection hash (scrape/service.go:972-978):
    ``h = ((h << 5) - h + charCodeAt(i)) | 0`` over UTF-16 code units,
    rendered via JS Number.toString. 31*h with int32 wraparound."""
    h = 0
    # charCodeAt iterates UTF-16 code units, not code points
    for b0, b1 in zip(*[iter(text.encode("utf-16-le"))] * 2):
        c = b0 | (b1 << 8)
        h = (31 * h + c) & 0xFFFFFFFF
    if h >= 0x80000000:  # JS `hash & hash` coerces to signed int32
        h -= 0x100000000
    return str(h)


def signature_of_html(html: "str | None") -> tuple:
    """Pure kernel: (text_length, element_count, link_count,
    async_load_indicators, content_hash) of one page."""
    if html is None:
        return 0, 0, 0, 0, "0"
    root = H.parse_html(html)

    # visible text: raw textContent concatenation (no collapsing —
    # the treewalker appends node.textContent verbatim) of body text
    # nodes outside script/style/noscript subtrees
    body = H._find_body(root)
    parts: list[str] = []

    def walk_text(n):
        for c in n.children:
            if c.tag is None:
                parts.append(c.text)
            elif c.tag not in _TEXT_SKIP_TAGS:
                walk_text(c)

    walk_text(body)
    visible_text = "".join(parts)

    elements = links = loaders = 0
    for n in H._walk(root):
        if n.tag is None:
            continue
        if n.tag not in _NON_CONTENT_TAGS:
            elements += 1
        if n.tag == "a" and "href" in n.attrs:
            links += 1
        classes = n.attrs.get("class", "")
        if (
            (classes and _LOADING_CLASSES & set(classes.lower().split()))
            or "data-loading" in n.attrs
            or "data-lazy" in n.attrs
            or n.attrs.get("aria-busy") == "true"
        ):
            loaders += 1
    # text_length mirrors JS `visibleText.length` = UTF-16 code units
    # (astral chars count 2), consistent with _js_string_hash's
    # charCodeAt iteration — NOT Python code points.
    return (len(visible_text.encode("utf-16-le")) // 2, elements, links,
            loaders, _js_string_hash(visible_text))


@pandas_udf(SIGNATURE_SCHEMA)
def _signature_udf(html: pd.Series) -> pd.DataFrame:
    rows = [signature_of_html(
        bytes(h).decode("utf-8", "replace") if h is not None else None)
        for h in html]
    return pd.DataFrame(rows, columns=[f.name for f in SIGNATURE_SCHEMA])


def content_signature(df: DataFrame, html_col: str = "html",
                      out_col: str = "signature") -> DataFrame:
    """A4: add the content-signature struct column (one Arrow batch
    pass; the html column is pruned immediately after, so fat bytes
    never shuffle onward)."""
    return df.withColumn(out_col, _signature_udf(F.col(html_col)))


def cloudflare_blocked(status_code: Column, title: Column,
                       content: Column) -> Column:
    """F8 (isCloudflareBlocked, scrape/service.go:1077-1107): a 403
    whose title or content carries a Cloudflare challenge marker.
    Pure JVM-side ``contains`` algebra — no UDF in this predicate."""
    t = F.coalesce(title, F.lit(""))
    c = F.coalesce(content, F.lit(""))
    # eqNullSafe: a nil StatusCode is FALSE (not NULL) like the Go
    # `result.StatusCode == 403` on a zero value — a negated use of
    # this predicate must not drop null-status rows.
    return status_code.eqNullSafe(F.lit(403)) & (
        t.contains("Just a moment")
        | t.contains("Checking your browser")
        | t.contains("Attention Required")
        | (c.contains("Waiting for") & c.contains("to respond"))
        | (c.contains("Cloudflare") & c.contains("Ray ID"))
    )


def significant_change(
    i_text: Column, i_elem: Column, i_link: Column, i_async: Column,
    i_hash: Column, f_text: Column, f_elem: Column, f_link: Column,
    f_async: Column, f_hash: Column,
) -> Column:
    """A4 (hasSignificantContentChange, scrape/service.go:1017-1074):
    OR of the five change heuristics over an (initial, final)
    signature pair. The 30% text-growth test is expressed in exact
    integer arithmetic (10*(f-i) > 3*i) — deterministic across
    engines, no float-division hash drift."""
    text_grew = F.when(
        i_text > 0, (f_text - i_text) * 10 > i_text * 3
    ).otherwise(f_text > 200)
    return (
        text_grew
        | ((f_elem - i_elem) > 50)
        | ((i_async - f_async) > 0)
        | ((f_link - i_link) > 5)
        | ((i_hash != f_hash) & (f_text > i_text + 100))
    )


# ---------------------------------------------------------------------------
# Recrawl scheduling from observation history
# ---------------------------------------------------------------------------

US_PER_DAY = 86_400_000_000
RATE_SCALE = 1_000          # changes/day reported on an exact e3 grid


def recrawl_schedule(spark_or_df, sf_dir: str = None) -> "DataFrame":
    """Change-frequency recrawl scheduler — the batch generalization
    of the reference's per-page change detection (significant_change /
    hasSignificantContentChange, scrape/service.go:1017-1074): given a
    page's OBSERVATION HISTORY (fetch timestamp + observed state), a
    100-TB crawler must decide which URLs to refetch first. Estimate =
    observed state transitions per day; refetch hottest first.

    Input contract: an observations table (page key, ts, tiebreak id,
    observed state). The driver fixture reads `events` as that shape
    (user_id = page key, event_type = observed state — the
    content-signature proxy; ts ordering broken deterministically by
    event_id so equal timestamps cannot desync engines).

    Exact arithmetic: changes/day is reported as
    ``n_changes * US_PER_DAY * RATE_SCALE DIV span_us`` (BIGINT
    integer division — no float-division hash drift); single-
    observation pages get a NULL rate and sort to the back of the
    schedule, newest-first.

    Scale shape: the transition count is a lag window and the per-page
    rollup a groupBy on the SAME key, so both ride ONE hash exchange
    on the page key (pinned by tests/test_recrawl.py plan assertion);
    the final schedule ranking runs over the page-bounded rollup
    (|pages| rows, not |observations|), the same bounded-global-rank
    shape as top_terms/frontier_rank."""
    from pyspark.sql import Window

    ev = (read_table(spark_or_df, sf_dir, "events")
          if sf_dir is not None else spark_or_df)
    obs = ev.select(F.col("user_id").alias("page_id"), "ts",
                    "event_id", F.col("event_type").alias("state"))

    w = Window.partitionBy("page_id").orderBy("ts", "event_id")
    tagged = obs.withColumn("prev_state", F.lag("state").over(w))
    per = tagged.groupBy("page_id").agg(
        F.count("*").alias("n_obs"),
        F.sum(F.when(F.col("prev_state").isNotNull()
                     & (F.col("prev_state") != F.col("state")), 1)
              .otherwise(0)).cast("bigint").alias("n_changes"),
        (F.unix_micros(F.max("ts").cast("timestamp"))
         - F.unix_micros(F.min("ts").cast("timestamp")))
        .alias("span_us"),
        F.max("ts").alias("last_seen"))

    rate = F.when(
        F.col("span_us") > 0,
        F.expr(f"CAST((n_changes * {US_PER_DAY * RATE_SCALE}) "
               "DIV span_us AS BIGINT)"))
    ranked = per.withColumn("changes_per_day_e3", rate)
    order = Window.orderBy(F.col("changes_per_day_e3").desc_nulls_last(),
                           F.col("last_seen").desc(),
                           F.col("page_id").asc())
    return ranked.select(
        "page_id", "n_obs", "n_changes", "span_us",
        "changes_per_day_e3",
        F.row_number().over(order).cast("int").alias("fetch_order"))


def recrawl_schedule_oracle_sql() -> str:
    return (
        "WITH o AS (SELECT user_id AS page_id, ts, event_id, "
        "event_type AS state, "
        "lag(event_type) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS prev_state FROM events), "
        "p AS (SELECT page_id, count(*) AS n_obs, "
        "CAST(sum(CASE WHEN prev_state IS NOT NULL "
        "AND prev_state <> state THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_changes, "
        "CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) "
        "AS span_us, max(ts) AS last_seen FROM o GROUP BY page_id), "
        "r AS (SELECT *, CASE WHEN span_us > 0 THEN "
        f"CAST((n_changes * {US_PER_DAY * RATE_SCALE}) // span_us "
        "AS BIGINT) END AS changes_per_day_e3 FROM p) "
        "SELECT page_id, n_obs, n_changes, span_us, "
        "changes_per_day_e3, CAST(row_number() OVER ("
        "ORDER BY changes_per_day_e3 DESC NULLS LAST, "
        "last_seen DESC, page_id ASC) AS INT) AS fetch_order FROM r")


# ---------------------------------------------------------------------------
# Redirect-chain resolution
# ---------------------------------------------------------------------------

REDIRECT_ROUNDS = 4          # pointer doubling: resolves chains up to
REDIRECT_MAX_HOPS = 1 << REDIRECT_ROUNDS  # 16 hops, the capped regime


def resolve_redirects(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Resolve every node's redirect chain to its canonical final
    target — the batch form of HTTP-client redirect following with a
    hop cap (the reference categorizes "stopped after N redirects" as
    a first-class error, internal/core/scrape/handler.go:47-49; a
    crawler must collapse 301/302 chains so the frontier and the seen
    set key on final targets, not hop-1 aliases).

    ``edges``: (src BIGINT, dst BIGINT) redirect mapping, src unique.
    ``nodes``: (doc_id BIGINT). Returns
    (doc_id, final_doc, n_hops, is_cycle): non-redirect nodes map to
    themselves with 0 hops; a chain that is still on a redirect
    source after REDIRECT_MAX_HOPS hops (a cycle, or a chain longer
    than the cap) reports the position after exactly MAX_HOPS hops
    with is_cycle=true — bit-identical to a linear walk capped at
    MAX_HOPS (the DuckDB recursive-CTE twin).

    Scale shape: POINTER DOUBLING on the redirect dim only —
    log2(MAX_HOPS) self-equi-joins over the (small relative to the
    corpus) redirect table instead of MAX_HOPS sequential passes over
    the corpus; the corpus is touched by ONE final equi-join against
    the resolved map. Invariant (inductive): after round k an entry
    is either terminal with its exact chain length <= 2^k, or sits at
    the position after exactly 2^k hops — so hop counts stay exact,
    never approximate."""
    g = edges.select(F.col("src"),
                     F.col("dst").alias("cur"),
                     F.lit(1).cast("long").alias("steps"))
    for _ in range(REDIRECT_ROUNDS):
        b = g.select(F.col("src").alias("b_src"),
                     F.col("cur").alias("b_cur"),
                     F.col("steps").alias("b_steps"))
        g = (g.join(b, g["cur"] == b["b_src"], "left")
             .select(g["src"],
                     F.coalesce(b["b_cur"], g["cur"]).alias("cur"),
                     (g["steps"]
                      + F.coalesce(b["b_steps"], F.lit(0).cast("long")))
                     .alias("steps")))
    res = (nodes.join(g, nodes["doc_id"] == g["src"], "left")
           .select(nodes["doc_id"],
                   F.coalesce(g["cur"], nodes["doc_id"])
                   .alias("final_doc"),
                   F.coalesce(g["steps"], F.lit(0).cast("long"))
                   .alias("n_hops")))
    srcs = edges.select(F.col("src").alias("_fsrc"))
    return (res.join(srcs, res["final_doc"] == srcs["_fsrc"], "left")
            .select("doc_id", "final_doc", "n_hops",
                    F.col("_fsrc").isNotNull().alias("is_cycle")))


def redirect_chains(spark, sf_dir: str) -> DataFrame:
    """Driver fixture for resolve_redirects: a deterministic redirect
    dim derived from the documents table — every doc with
    doc_id % 4 == 1 redirects to md5("redir|"+doc_id) mod N (hash
    target, so target residues are uniform and multi-hop chains
    actually occur), resolved to canonical targets. Exact integer
    arithmetic on both engines (md5 hex is engine-identical); the
    DuckDB twin is a recursive CTE capped at the same MAX_HOPS."""
    docs = split_small_scan(
        read_table(spark, sf_dir, "documents")).select("doc_id")
    n = docs.count()
    dst = (F.conv(F.substring(
        F.md5(F.concat(F.lit("redir|"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % n)
    edges = (docs.filter(F.col("doc_id") % 4 == 1)
             .select(F.col("doc_id").alias("src"), dst.alias("dst")))
    return resolve_redirects(edges, docs)


def redirect_chains_oracle_sql() -> str:
    h = REDIRECT_MAX_HOPS
    return (
        "WITH RECURSIVE "
        "edges AS (SELECT doc_id AS src, "
        "('0x' || substring(md5('redir|' || doc_id), 1, 8))::BIGINT % "
        "(SELECT count(*) FROM documents) AS dst "
        "FROM documents WHERE doc_id % 4 = 1), "
        "walk(doc_id, cur, n_hops) AS ("
        "SELECT doc_id, doc_id, 0 FROM documents "
        "UNION ALL "
        "SELECT w.doc_id, e.dst, w.n_hops + 1 "
        "FROM walk w JOIN edges e ON w.cur = e.src "
        f"WHERE w.n_hops < {h}), "
        "fin AS (SELECT doc_id, max(n_hops) AS m FROM walk "
        "GROUP BY doc_id) "
        "SELECT w.doc_id, w.cur AS final_doc, "
        "CAST(w.n_hops AS BIGINT) AS n_hops, "
        "(w.cur IN (SELECT src FROM edges)) AS is_cycle "
        "FROM walk w JOIN fin f "
        "ON w.doc_id = f.doc_id AND w.n_hops = f.m")


# ---------------------------------------------------------------------------
# Spider-trap detection
# ---------------------------------------------------------------------------

TRAP_MAX_REPEAT = 3   # a path segment appearing >= 3 times
TRAP_MAX_DEPTH = 8    # or a path deeper than this


def url_trap_features(url_col) -> "dict[str, Column]":
    """Spider-trap feature columns over a URL string column — the
    batch form of the loop guards a live crawler needs against
    infinite URL spaces (calendar pages, faceted search, session-id
    echoes). The reference relies on its depth cap + link_limit to
    bound traps (crawl/service.go:529-539); a 10^10-frontier crawler
    must detect them *before* they consume budget.

    Features (all computable from the string alone):
    ``path_depth`` (non-empty /-segments), ``max_seg_repeat`` (the
    most-repeated path segment's count — cycle echo signal),
    ``n_params`` (query-parameter count). ``is_trap`` flags
    max_seg_repeat >= 3 or path_depth > 8.

    Scale shape: pure higher-order array expressions
    (transform/filter/array_max over the split path) — map-only,
    whole-stage codegen, zero shuffle/UDF; the per-row cost is
    O(depth^2) on a bounded-depth path."""
    pathq = F.regexp_replace(url_col, "^https?://[^/]+", "")
    path = F.element_at(F.split(pathq, r"\?"), 1)
    query = F.when(F.instr(pathq, "?") > 0,
                   F.element_at(F.split(pathq, r"\?"), 2))
    segs = F.filter(F.split(path, "/"), lambda x: x != "")
    depth = F.size(segs).cast("long")
    max_rep = F.coalesce(
        F.array_max(F.transform(
            segs, lambda s: F.size(F.filter(segs, lambda x: x == s)))),
        F.lit(0)).cast("long")
    n_params = (F.when(query.isNotNull() & (query != ""),
                       F.size(F.split(query, "&")))
                .otherwise(0)).cast("long")
    return {
        "path_depth": depth,
        "max_seg_repeat": max_rep,
        "n_params": n_params,
        "is_trap": (max_rep >= TRAP_MAX_REPEAT)
        | (depth > TRAP_MAX_DEPTH),
    }


def trap_detect(spark, sf_dir: str) -> DataFrame:
    """Driver fixture for url_trap_features: deterministic URLs from
    the documents table — docs with doc_id % 13 == 0 get a calendar
    echo path ('/cal/2024' repeated 2 + doc_id % 3 times, so repeat
    counts 2..4 straddle the trap threshold), docs with
    doc_id % 7 == 0 get a 2-param query — then the trap features per
    URL. Exact string/integer arithmetic on both engines."""
    docs = split_small_scan(
        read_table(spark, sf_dir, "documents")).select("doc_id", "source")
    did = F.col("doc_id")
    path = F.when(
        did % 13 == 0,
        F.expr("repeat('/cal/2024', 2 + doc_id % 3)")).otherwise(
        F.concat(F.lit("/sec"), (did % 5).cast("string"),
                 F.lit("/p"), did.cast("string")))
    query = F.when(
        did % 7 == 0,
        F.concat(F.lit("?page="), (did % 50).cast("string"),
                 F.lit("&session=abc"))).otherwise(F.lit(""))
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.org"), path, query)
    feats = url_trap_features(F.col("url"))
    return (docs.select("doc_id", url.alias("url"))
            .select("doc_id", "url", feats["path_depth"]
                    .alias("path_depth"),
                    feats["max_seg_repeat"].alias("max_seg_repeat"),
                    feats["n_params"].alias("n_params"),
                    feats["is_trap"].alias("is_trap")))


def trap_detect_oracle_sql() -> str:
    return (
        "WITH u AS (SELECT doc_id, 'https://' || source || "
        "'.example.org' || "
        "CASE WHEN doc_id % 13 = 0 THEN "
        "repeat('/cal/2024', CAST(2 + doc_id % 3 AS INT)) "
        "ELSE '/sec' || (doc_id % 5) || '/p' || doc_id END || "
        "CASE WHEN doc_id % 7 = 0 THEN "
        "'?page=' || (doc_id % 50) || '&session=abc' ELSE '' END "
        "AS url FROM documents), "
        "f AS (SELECT doc_id, url, "
        "regexp_replace(url, '^https?://[^/]+', '') AS pathq FROM u), "
        "g AS (SELECT doc_id, url, "
        "string_split(pathq, '?')[1] AS path, "
        "CASE WHEN contains(pathq, '?') "
        "THEN string_split(pathq, '?')[2] END AS query FROM f), "
        "h AS (SELECT doc_id, url, "
        "list_filter(string_split(path, '/'), x -> x <> '') AS segs, "
        "query FROM g) "
        "SELECT doc_id, url, "
        "CAST(len(segs) AS BIGINT) AS path_depth, "
        "CAST(coalesce(list_max(list_transform(segs, "
        "s -> len(list_filter(segs, x -> x = s)))), 0) AS BIGINT) "
        "AS max_seg_repeat, "
        "CAST(CASE WHEN query IS NOT NULL AND query <> '' "
        "THEN len(string_split(query, '&')) ELSE 0 END AS BIGINT) "
        "AS n_params, "
        "(coalesce(list_max(list_transform(segs, "
        "s -> len(list_filter(segs, x -> x = s)))), 0) >= 3 "
        "OR len(segs) > 8) AS is_trap "
        "FROM h")


# ---------------------------------------------------------------------------
# Crawl snapshot diff
# ---------------------------------------------------------------------------

def snapshot_diff(old: DataFrame, new: DataFrame,
                  key: str = "url", digest: str = "content_md5"
                  ) -> DataFrame:
    """Diff two crawl snapshots (page key + content digest) into the
    re-crawl ledger: status ∈ {added, gone, changed, same}. This is
    the set-level form of the reference's per-page change detection
    (hasSignificantContentChange, scrape/service.go:1017-1074) — a
    scheduled re-crawl consumes it to decide what to refetch, purge,
    or leave cached.

    Scale shape: ONE full-outer hash equi-join on the page key (both
    sides carry only key + 32-char digest — content never moves),
    then a map-only CASE; downstream counts ride the same exchange."""
    o = old.select(F.col(key).alias("k"),
                   F.col(digest).alias("old_digest"))
    n = new.select(F.col(key).alias("k"),
                   F.col(digest).alias("new_digest"))
    j = o.join(n, "k", "full_outer")
    status = (F.when(F.col("old_digest").isNull(), "added")
              .when(F.col("new_digest").isNull(), "gone")
              .when(F.col("old_digest") != F.col("new_digest"),
                    "changed")
              .otherwise("same"))
    return j.select(F.col("k").alias(key), "old_digest", "new_digest",
                    status.alias("status"))


def crawl_diff(spark, sf_dir: str) -> DataFrame:
    """Driver fixture for snapshot_diff: two deterministic "runs"
    derived from documents — run B drops docs with doc_id % 17 == 0
    (gone), rewrites text for doc_id % 11 == 0 (changed), and adds
    one new page per source (added); everything else is same. Exact
    md5/string arithmetic on both engines."""
    docs = split_small_scan(
        read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.org/doc/"),
                   F.col("doc_id").cast("string"))
    run_a = docs.select(url.alias("url"),
                        F.md5("text").alias("content_md5"))
    newtext = F.when(F.col("doc_id") % 11 == 0,
                     F.concat(F.col("text"), F.lit(" v2"))
                     ).otherwise(F.col("text"))
    run_b = (docs.filter(F.col("doc_id") % 17 != 0)
             .select(url.alias("url"),
                     F.md5(newtext).alias("content_md5")))
    extra = (docs.groupBy("source").agg(F.count("*").alias("_n"))
             .select(F.concat(F.lit("https://"), F.col("source"),
                              F.lit(".example.org/new"))
                     .alias("url"),
                     F.md5(F.col("source")).alias("content_md5")))
    return snapshot_diff(run_a, run_b.unionByName(extra))


def crawl_diff_oracle_sql() -> str:
    return (
        "WITH a AS (SELECT 'https://' || source || "
        "'.example.org/doc/' || doc_id AS url, md5(text) AS d "
        "FROM documents), "
        "b0 AS (SELECT 'https://' || source || "
        "'.example.org/doc/' || doc_id AS url, "
        "md5(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' "
        "ELSE text END) AS d FROM documents WHERE doc_id % 17 <> 0), "
        "b1 AS (SELECT DISTINCT 'https://' || source || "
        "'.example.org/new' AS url, md5(source) AS d FROM documents), "
        "b AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1) "
        "SELECT coalesce(a.url, b.url) AS url, "
        "a.d AS old_digest, b.d AS new_digest, "
        "CASE WHEN a.d IS NULL THEN 'added' "
        "WHEN b.d IS NULL THEN 'gone' "
        "WHEN a.d <> b.d THEN 'changed' ELSE 'same' END AS status "
        "FROM a FULL OUTER JOIN b ON a.url = b.url")
