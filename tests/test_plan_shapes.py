"""Physical-plan shape assertions (VERDICT r3 #4): the properties
BENCH.md argues from are pinned here so a regression fails CI, not a
prose audit —

- the bucketed known-state anti-join never Exchanges the known side;
- the fetch join is a broadcast of the slim wave (fetch_join_split)
  below the sched_bound gate and SHUFFLE_HASH (fetch_join) above it;
- the fat html column is pruned from every post-extraction plan.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_aqe_no_autobroadcast(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_known_scan_has_no_exchange(spark, tmp_path,
                                             no_aqe_no_autobroadcast):
    """The known side of the seen anti-join reads bucket-aligned: the
    candidates exchange into the table's partitioning; the known scan
    itself is NEVER re-shuffled (the r2 scale-killer fix)."""
    from supacrawler_spark.plans.crawl import KNOWN_BUCKETS

    known = spark.range(5000).selectExpr(
        "concat('https://k', CAST(id AS STRING), '.org/p') AS url",
        "xxhash64(CAST(id AS STRING)) AS url_hash")
    tbl = "plan_test_known"
    (known.repartition(KNOWN_BUCKETS, "url")
     .write.mode("overwrite").format("parquet")
     .bucketBy(KNOWN_BUCKETS, "url")
     .option("path", str(tmp_path / "known")).saveAsTable(tbl))
    try:
        cand = spark.range(300).selectExpr(
            "concat('https://k', CAST(id * 7 AS STRING), '.org/p') AS url")
        joined = cand.join(spark.table(tbl).select("url"),
                           "url", "left_anti")
        plan = _plan(joined)
        assert "Bucketed: true" in plan, plan
        # exactly ONE exchange: the candidate side; the known scan is
        # consumed with its bucket partitioning
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fetch_join_strategy_gate(spark, no_aqe_no_autobroadcast):
    """fetch_join_split (small waves) -> the slim wave is broadcast and
    the corpus is scanned, not shuffled; fetch_join (large waves) ->
    ShuffledHashJoin, never a sort of the corpus."""
    from supacrawler_spark.operators.fetch import fetch_join, fetch_join_split
    from supacrawler_spark.sources import gen_pages_df, prepare_pages

    pages_df, _ = gen_pages_df(spark, "/root/testdata/sf0.001", limit=60)
    prep = prepare_pages(pages_df)
    sched = prep.limit(10).select(
        F.col("url_canon").alias("url"), F.lit(0).alias("attempt"))

    hits, _ = fetch_join_split(sched, prep)
    small = _plan(hits)
    assert "BroadcastHashJoin" in small, small
    assert "SortMergeJoin" not in small, small

    large = _plan(fetch_join(sched, prep))
    assert "ShuffledHashJoin" in large, large
    assert "SortMergeJoin" not in large, large
    assert "BroadcastHashJoin" not in large, large


def test_html_pruned_after_extraction(spark, tmp_path):
    """Discovery (expand_candidates over committed result files) must
    not read the fat html column: column pruning reaches the parquet
    scan (ReadSchema excludes html/markdown/text)."""
    from supacrawler_spark.operators.fetch import expand_candidates
    from supacrawler_spark.schemas import RESULT_SCHEMA

    res_path = str(tmp_path / "results")
    spark.createDataFrame([], RESULT_SCHEMA).write.parquet(res_path)
    # FileScan metadata is truncated to maxMetadataStringLength by
    # default — raise it (before the plan is built) so the assertion
    # sees the full ReadSchema
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        res_df = spark.read.schema(RESULT_SCHEMA).parquet(res_path)
        cand = expand_candidates(res_df, False, None, None, max_depth=3)
        plan = _plan(cand)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scan_line = plan[plan.index("ReadSchema"):].splitlines()[0]
    for fat in ("html", "markdown", "text", "links", "metadata"):
        assert f"{fat}:" not in scan_line, scan_line
    assert "discovery:" in scan_line, scan_line


def test_pii_redact_is_map_only(spark):
    """pii_redact must stay a single scan stage: no Exchange, no
    Python worker (native regexp only)."""
    from supacrawler_spark.textops import pii_redact

    plan = _plan(pii_redact(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan, plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_paragraph_dedup_shuffles_hashes_not_text(
        spark, no_aqe_no_autobroadcast):
    """paragraph_dedup exchanges exactly ONCE (r6 single-pass shape:
    the global first is a window MIN over para_hash, replacing the
    min-groupBy + join-back that exchanged twice and evaluated the
    chunk explode twice), keyed on the 32-byte para_hash — the
    paragraph text never appears in an exchange's output schema, and
    the chunk Generate appears exactly once."""
    from supacrawler_spark.textops import paragraph_dedup

    plan = _plan(paragraph_dedup(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Generate") == 1, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "para_hash" in line and "para#" not in line, line


def test_decontam_overlap_broadcasts_benchmark(spark):
    """The benchmark gram set is broadcast; the corpus side of
    decontam_overlap must join map-side with no shuffle of the corpus
    grams before the join."""
    from supacrawler_spark.textops import decontam_overlap

    plan = _plan(decontam_overlap(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_warc_scan_is_map_only(spark, tmp_path):
    """Shard parse: binaryFile scan -> mapInPandas, zero Exchange —
    records never shuffle; file-per-task parallelism is the unit."""
    from supacrawler_spark.sources import warc

    (tmp_path / "s.warc").write_bytes(
        warc.build_record(1, "a", "x"))
    shards = (spark.read.format("binaryFile")
              .load(str(tmp_path) + "/*.warc"))
    plan = _plan(warc.warc_scan(shards, payload_col="content"))
    assert "Exchange" not in plan, plan


def test_sitemap_parse_stage_is_native(spark):
    """Urlset parsing is pure column expressions: no Python eval
    operator anywhere in the parse plan (the regexp extraction runs
    JVM-side inside codegen)."""
    from supacrawler_spark.sources import sitemap

    sm = spark.createDataFrame(
        [("<urlset><url><loc>https://a.org/1</loc></url></urlset>",)],
        "xml string")
    plan = _plan(sitemap.parse_sitemap(sm))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_tokenize_ids_broadcasts_vocab(spark):
    """The V-row vocab id map must broadcast: the token stream (the
    fat side) joins map-side, never sort-merging on the token key."""
    from supacrawler_spark.textops import tokenize_ids

    plan = _plan(tokenize_ids(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_anchor_pairs_extraction_in_scan_stage(spark):
    """anchor_pairs_df consumes html where it is produced: no Exchange
    may appear below the extraction operator (html never shuffles)."""
    from supacrawler_spark.graph import anchor_pairs_df
    from supacrawler_spark.sources import gen_pages_df

    pages, _ = gen_pages_df(spark, "/root/testdata/sf0.001", limit=20)
    plan = _plan(anchor_pairs_df(pages))
    assert "Exchange" not in plan, plan


def test_session3_ops_stay_jvm_side(spark):
    """The round-4 session-3 operators' scale claims, pinned: no
    Python evaluation anywhere in rarity_score / dup_span_removal /
    mixture_sample / epoch_shuffle / redirect_chains plans (pure
    built-in expressions), and the internal join keys are 8-byte
    xxhash64 per the hash-portability policy where claimed."""
    from supacrawler_spark import scrapeops, textops

    sf = "/root/testdata/sf0.001"
    for build in (textops.rarity_score, textops.dup_span_removal,
                  textops.mixture_sample, textops.epoch_shuffle):
        plan = _plan(build(spark, sf))
        assert "BatchEvalPython" not in plan, build.__name__
        assert "ArrowEval" not in plan, build.__name__
    plan = _plan(scrapeops.redirect_chains(spark, sf))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    # xxhash64 internal keys (never md5) in the token/gram joins
    assert "xxhash64" in _plan(textops.rarity_score(spark, sf))
    assert "xxhash64" in _plan(textops.dup_span_removal(spark, sf))


def test_dup_span_removal_first_owner_is_window_min(spark):
    """The global-first owner per span is min(struct(doc_id,pos)) as a
    window over the gh key (r6 single-pass shape — the prior
    min-groupBy + join-back evaluated the n-gram explode twice): one
    Window node, and the occurrence explode appears exactly once in
    the first-owner subtree (a second Generate exists only for the
    coverage-positions sequence explode, which carries no gram text)."""
    from supacrawler_spark import textops

    plan = _plan(textops.dup_span_removal(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan, plan
    assert plan.count("posexplode") <= 2, plan


@pytest.mark.parametrize("op", ("lsh_verified_pairs", "allpairs_jaccard",
                                "allpairs_containment"))
def test_lsh_verified_pairs_fallback_has_no_broadcast(
        spark, monkeypatch, no_aqe_no_autobroadcast, op):
    """Above LSH_SMALL_PAIRS (pinned by a negative bound) every
    verification dim of every operator verified through the gate joins
    as a shuffle equi-join: zero BroadcastExchange anywhere in the
    plan, so a duplicate-heavy corpus can never OOM the driver. The
    fast path keeps its broadcast-dim shape."""
    from supacrawler_spark import textops

    sf = "/root/testdata/sf0.001"
    build = getattr(textops, op)
    fast = _plan(build(spark, sf))
    assert "BroadcastHashJoin" in fast, fast

    monkeypatch.setattr(textops, "LSH_SMALL_PAIRS", -1)
    fallback = _plan(build(spark, sf))
    assert "BroadcastExchange" not in fallback, fallback
    assert "BroadcastHashJoin" not in fallback, fallback


def test_published_filters_are_map_only(spark):
    """gopher_quality / c4_line_filter must stay single scan stages:
    every signal is an array-lambda over split(text) — no Exchange, no
    Python worker."""
    from supacrawler_spark.textops import c4_line_filter, gopher_quality

    for op in (gopher_quality, c4_line_filter):
        plan = _plan(op(spark, "/root/testdata/sf0.001"))
        assert "Exchange" not in plan, plan
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in plan, plan
