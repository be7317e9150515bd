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


def _traced_crawl(spark, web, tmp_path, **kw):
    """A depth-2 crawl inside ``rebind_crawl_ops``; returns the tracer
    after checking that every name was restored."""
    before = {n: getattr(crawl_mod, n) for n in REBOUND}
    pages_df, _, n_docs = web
    tracer = tracing.Tracer()
    extract_dir = tmp_path / "extract"
    extract_dir.mkdir()
    with tracing.rebind_crawl_ops(tracer, str(extract_dir)):
        run = run_crawl(spark, pages_df, gen_seeds(n_docs, k=2),
                        CrawlParams(depth=2, link_limit=40),
                        state_dir=str(tmp_path / "state"), **kw)
    assert run.stats["waves"] >= 2
    assert {n: getattr(crawl_mod, n) for n in REBOUND} == before
    return tracer


def test_rebound_ops_are_called_and_restored(spark, web, tmp_path,
                                             monkeypatch):
    monkeypatch.setattr(crawl_mod, "KNOWN_TABLE_THRESHOLD", -1)
    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", -1)
    tracer = _traced_crawl(spark, web, tmp_path)
    for n in ("politeness_select", "ordered_row_number", "fetch_join_split",
              "miss_results", "expand_candidates", "make_extractor"):
        assert tracer.counts.get(f"calls.{n}", 0) > 0, n
    # the Bloom filter was built through the rebound BloomState
    assert tracer.counts.get("seen.flag_calls", 0) > 0


def test_shuffle_fetch_and_cuckoo_are_rebound(spark, web, tmp_path,
                                              monkeypatch):
    """The shuffle-hash fetch path and the cuckoo filter are called
    through their rebound names too."""
    monkeypatch.setattr(crawl_mod, "SMALL_WAVE_ROWS", -1)
    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", -1)
    tracer = _traced_crawl(spark, web, tmp_path, seen_filter="cuckoo")
    assert tracer.counts.get("calls.fetch_join", 0) > 0
    assert "calls.fetch_join_split" not in tracer.counts
    # no BloomState exists with seen_filter="cuckoo": every flag call
    # went through the rebound CuckooState
    assert tracer.counts.get("seen.flag_calls", 0) > 0
