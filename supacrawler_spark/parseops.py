"""Parse-workflow data plane (SURVEY.md §3.3; parse/service.go).

The reference's `/v1/parse` endpoint streams crawled/scraped pages,
caps each page's markdown, and concatenates the survivors into one
LLM prompt payload (processAllContentWithUnifiedLLM). The LLM call is
out of scope here; the DATA PLANE is pure DataFrame work:

- per-page cap: content[:15000] + "...[TRUNCATED]" when over the cap
  (parse/service.go:537-540; ~4000 tokens/page);
- unified concat: "=== SOURCE {i}: {label} ===\\n" + content + "\\n\\n"
  per source, in deterministic arrival order (parse/service.go:
  634-638 — the reference's arrival order is stream order; the batch
  determinization orders by doc_id, the analog of crawl order).

Byte-vs-char cap modes: Go slices BYTES (len(rawContent) > 15000,
parse/service.go:537-540) and can cut a multi-byte UTF-8 sequence
mid-char; `capped_content` is the character mode (Spark/DuckDB
substring semantics — agrees with Go on ASCII, used by the SQL-oracle
driver queries), and `capped_content_bytes` is the EXACT-PARITY byte
mode: it operates on the utf-8 encoding as BINARY, so a split
codepoint's partial bytes are preserved byte-for-byte as Go feeds
them onward (test_parse_cap_bytes_mode pins the divergence point).

Scale: the window rank and the grouped concat share the job_id
partitioning (one shuffle, reused exchange); per-group payloads are
bounded by n_sources x cap, and the output carries md5(prompt) rather
than the megabyte prompt itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PARSE_CONTENT_CAP = 15_000   # parse/service.go:538
TRUNCATION_MARK = "...[TRUNCATED]"
AGG_MAX_OUTPUT_TOKENS = 2000      # parse/service.go:698 WithMaxTokens
ANALYSIS_MAX_OUTPUT_TOKENS = 800  # parse/service.go:408


def capped_content(col, cap: int = PARSE_CONTENT_CAP):
    """The per-page content cap (parse/service.go:537-540)."""
    return F.when(
        F.length(col) > cap,
        F.concat(F.substring(col, 1, cap), F.lit(TRUNCATION_MARK)),
    ).otherwise(col)


def capped_content_bytes(col, cap: int = PARSE_CONTENT_CAP):
    """Exact-parity BYTE mode of the per-page cap: Go's
    ``rawContent[:15000] + "...[TRUNCATED]"`` slices bytes
    (parse/service.go:537-540), which may split a multi-byte UTF-8
    char — the partial bytes are kept. Returns BINARY: the exact byte
    sequence the Go data plane produces (decoding would have to mangle
    the split char, so downstream hashing/length checks consume the
    bytes directly). Use `capped_content` (char mode) when content is
    ASCII or DuckDB-oracle comparability matters."""
    b = F.encode(col, "UTF-8")
    return F.when(
        F.octet_length(b) > cap,
        F.concat(F.substring(b, 1, cap),
                 F.encode(F.lit(TRUNCATION_MARK), "UTF-8")),
    ).otherwise(b)


def unified_prompt(df: DataFrame, job_col: str = "job_id",
                   ord_col: str = "doc_id", label_col: str = "label",
                   content_col: str = "content") -> DataFrame:
    """Group rows into per-job unified LLM payloads
    (processAllContentWithUnifiedLLM, parse/service.go:616-665).

    Returns (job_id, n_sources, total_chars, prompt_md5). The source
    banner is byte-identical to the reference's
    ``=== SOURCE %d: %s ===\\n`` + content + ``\\n\\n``.
    """
    w = Window.partitionBy(job_col).orderBy(ord_col)
    src = F.concat(
        F.lit("=== SOURCE "), F.row_number().over(w).cast("string"),
        F.lit(": "), F.col(label_col), F.lit(" ===\n"),
        F.col(content_col), F.lit("\n\n"))
    rows = df.select(job_col, ord_col, F.col(content_col).alias("_c"),
                     src.alias("_src"))
    # array_sort on (ord, src) structs keeps the concat deterministic
    # regardless of collect_list's arrival order
    parts = F.array_sort(F.collect_list(F.struct(
        F.col(ord_col).alias("o"), F.col("_src").alias("s"))))
    return (rows.groupBy(job_col).agg(
        F.count("*").alias("n_sources"),
        F.sum(F.length("_c")).alias("total_chars"),
        F.md5(F.array_join(F.transform(parts, lambda x: x["s"]), ""))
        .alias("prompt_md5")))


def token_usage(df: DataFrame, job_col: str = "job_id",
                content_col: str = "content") -> DataFrame:
    """A5: per-job token-usage accumulation (parse/service.go:567-607:
    workflowCtx totals + per-phase TokenUsage, surfaced as
    input/output/total tokens + pages_processed on the response,
    320-328).

    The reference reads real usage off the LLM response; the batch
    data plane estimates input tokens with the standard 4-chars/token
    heuristic over the capped page contents (ceil division), and
    carries the aggregation call's output-token BUDGET
    (WithMaxTokens(2000), parse/service.go:698) as the output bound.
    Pure integer algebra — one shuffle, map-side combined."""
    chars = F.sum(F.length(content_col)).alias("_chars")
    g = df.groupBy(job_col).agg(
        F.count("*").alias("pages_processed"), chars)
    in_tok = F.floor((F.col("_chars") + 3) / 4).cast("long")
    return g.select(
        job_col, "pages_processed",
        in_tok.alias("input_tokens"),
        F.lit(AGG_MAX_OUTPUT_TOKENS).cast("long").alias("output_budget"),
        (in_tok + AGG_MAX_OUTPUT_TOKENS).alias("total_budget"))


# GET /v1/parse/templates + /v1/parse/examples static catalogs
# (GetAvailableTemplates parse/service.go:1048-1056;
# GetExampleOutputSpecs service.go:1058-1083; handler.go:87-105).
# These ARE the spec — static reference data, not code.
PARSE_TEMPLATES = {
    "intelligent_workflow":
        "AI-powered parsing with automatic scrape/crawl detection",
    "streaming_processing":
        "Real-time streaming workflow for large crawling operations",
    "schema_extraction":
        "Structured data extraction with custom JSON schemas",
}
PARSE_EXAMPLES = {
    "blog_crawl_streaming": {
        "prompt": "Crawl https://example.com/blog and stream the "
                  "latest posts",
        "schema": {"type": "object", "properties": {
            "title": {"type": "string"}, "date": {"type": "string"},
            "url": {"type": "string"}}},
    },
    "product_scrape_single": {
        "prompt": "Extract product details from "
                  "https://shop.example.com/product/123",
        "schema": {"type": "object", "properties": {
            "name": {"type": "string"}, "price": {"type": "number"}}},
    },
}


def parse_templates(spark, sf_dir=None) -> DataFrame:
    """Driver query: the static parse template/example catalog as one
    relation (kind, name, description, prompt, schema_json) — the
    batch surface of GET /v1/parse/templates|examples. schema_json is
    canonical (sorted keys, compact separators) so the value is
    engine-comparable."""
    import json

    rows = [("template", k, v, None, None)
            for k, v in sorted(PARSE_TEMPLATES.items())]
    rows += [("example", k, None, v["prompt"],
              json.dumps(v["schema"], sort_keys=True,
                         separators=(",", ":")))
             for k, v in sorted(PARSE_EXAMPLES.items())]
    return spark.createDataFrame(
        rows, "kind string, name string, description string, "
              "prompt string, schema_json string")


def _parse_input(spark, sf_dir, cap: int, n_jobs: int,
                 rep: int) -> DataFrame:
    """Shared derivation for the parse driver queries: documents
    repeated to realistic page-markdown size (2k-22k chars) so the
    15,000-char cap genuinely fires on a subset of rows."""
    from supacrawler_spark.session import read_table
    docs = read_table(spark, sf_dir, "documents")
    r = F.repeat(F.concat(F.col("text"), F.lit(" ")), rep)
    return docs.select(
        (F.col("doc_id") % n_jobs).alias("job_id"),
        "doc_id",
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("label"),
        capped_content(r, cap).alias("content"))


def parse_prep(spark, sf_dir, cap: int = PARSE_CONTENT_CAP,
               n_jobs: int = 50, rep: int = 40) -> DataFrame:
    """Driver query: the parse data plane over the documents table."""
    return unified_prompt(_parse_input(spark, sf_dir, cap, n_jobs, rep))


def parse_tokens(spark, sf_dir, cap: int = PARSE_CONTENT_CAP,
                 n_jobs: int = 50, rep: int = 40) -> DataFrame:
    """Driver query: A5 token accumulation over the same parse jobs."""
    return token_usage(_parse_input(spark, sf_dir, cap, n_jobs, rep))
