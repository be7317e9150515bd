"""Engine table schemas (SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import types as T

# Input corpus (BASELINE.json input_hint): the "web".
PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

# Frontier rows. `parent_ord`/`link_pos` define the deterministic
# discovery order: seeds carry (parent_ord=-1, link_pos=seed_rank);
# a link found at position p on the page with crawl_ord c carries
# (c, p). The total crawl order is
# (-priority, depth, parent_ord, link_pos, url).
FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),          # canonical
    T.StructField("host", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("parent_ord", T.LongType()),
    T.StructField("link_pos", T.IntegerType()),
    T.StructField("seed_rank", T.IntegerType()),
    T.StructField("seed_host", T.StringType()),
    T.StructField("priority", T.DoubleType()),
    T.StructField("attempt", T.IntegerType()),   # F9 retry counter
])

# On-disk frontier file layout: FRONTIER_SCHEMA + the is_new flag
# (True = first-ever emission of the url -> row doubles as the known-
# set entry; False = deferred re-appearance or F9 retry row). Reads
# supply this schema explicitly: parquet footer inference is a ~0.2-0.5s
# driver job per read, pure non-scaling per-wave latency.
FRONTIER_DISK_SCHEMA = T.StructType(
    list(FRONTIER_SCHEMA.fields) + [T.StructField("is_new", T.BooleanType())])

METADATA_STRUCT = T.StructType([
    T.StructField("status_code", T.IntegerType()),
    T.StructField("source_url", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("language", T.StringType()),
    T.StructField("canonical", T.StringType()),
    T.StructField("favicon", T.StringType()),
    T.StructField("og_title", T.StringType()),
    T.StructField("og_description", T.StringType()),
    T.StructField("og_image", T.StringType()),
    T.StructField("og_site_name", T.StringType()),
    T.StructField("twitter_title", T.StringType()),
    T.StructField("twitter_description", T.StringType()),
    T.StructField("twitter_image", T.StringType()),
])

# Per-fetched-page record (crawl result row; PageContent +
# error/ordering columns). `discovery` is engine-internal (colly-style
# canonical links used for expansion); `links` is the user-facing
# result links array (scrape-regex semantics).
RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("iter", T.IntegerType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("crawl_ord", T.LongType()),
    T.StructField("seed_rank", T.IntegerType()),
    T.StructField("seed_host", T.StringType()),
    # engine-internal frontier passthrough (retry re-enqueue, F9)
    T.StructField("host", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("parent_ord", T.LongType()),
    T.StructField("link_pos", T.IntegerType()),
    T.StructField("attempt", T.IntegerType()),
    T.StructField("status_code", T.IntegerType()),
    T.StructField("success", T.BooleanType()),
    T.StructField("error", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("markdown", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("links", T.ArrayType(T.StringType())),
    T.StructField("discovery", T.ArrayType(T.StringType())),
    T.StructField("discovered", T.IntegerType()),
    T.StructField("metadata", METADATA_STRUCT),
    T.StructField("html", T.BinaryType()),
])

ROBOTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("allow_prefixes", T.ArrayType(T.StringType())),
    T.StructField("disallow_prefixes", T.ArrayType(T.StringType())),
    T.StructField("crawl_delay_ms", T.IntegerType()),
])

POLITENESS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("max_parallel", T.IntegerType()),
    T.StructField("delay_ms", T.IntegerType()),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("iter", T.IntegerType()),
    T.StructField("stage", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("rows", T.LongType()),
])
