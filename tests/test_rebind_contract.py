"""The benchmark's traced run swaps operator names on
``supacrawler_spark.plans.crawl`` for timing wrappers
(``perfbench.tracing.rebind_crawl_ops``). That only measures anything
while run_crawl looks each name up as a module global at call time: a
name bound anywhere else would leave its per-layer metrics silently
blank. This pins the contract with every optional path engaged."""

from perfbench import tracing
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import crawl as crawl_mod
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.sources import gen_seeds

REBOUND = tracing.CRAWL_OPS + tracing.SEEN_FILTERS + ("make_extractor",)


def test_rebound_ops_are_called_and_restored(spark, web, tmp_path,
                                             monkeypatch):
    monkeypatch.setattr(crawl_mod, "KNOWN_TABLE_THRESHOLD", -1)
    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", -1)
    before = {n: getattr(crawl_mod, n) for n in REBOUND}
    pages_df, _, n_docs = web
    tracer = tracing.Tracer()
    extract_dir = tmp_path / "extract"
    extract_dir.mkdir()
    with tracing.rebind_crawl_ops(tracer, str(extract_dir)):
        run = run_crawl(spark, pages_df, gen_seeds(n_docs, k=2),
                        CrawlParams(depth=2, link_limit=40),
                        state_dir=str(tmp_path / "state"))
    assert run.stats["waves"] >= 2
    for n in ("politeness_select", "ordered_row_number", "fetch_join_split",
              "miss_results", "expand_candidates", "make_extractor"):
        assert tracer.counts.get(f"calls.{n}", 0) > 0, n
    # the Bloom filter was built through the rebound BloomState
    assert tracer.counts.get("seen.flag_calls", 0) > 0
    assert {n: getattr(crawl_mod, n) for n in REBOUND} == before
