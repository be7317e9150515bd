"""Seed-path scaling (VERDICT r3 #2): the seeds dim must be
trace-identical to the literal IN-list path, accept DataFrame input,
survive resume, collapse duplicates, and stay flat-cost in seed count
(the north rule's input is a Common-Crawl-style seed LIST)."""

import pytest

from supacrawler_spark.oracle import crawl_oracle
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import crawl as crawl_mod
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.sources import gen_seeds


def _trace(run):
    return [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code)
            for r in run.trace.collect()]


def _force_dim(monkeypatch):
    """Every seed list above -1 seeds takes the dim path."""
    monkeypatch.setattr(crawl_mod, "SEED_DIM_THRESHOLD", -1)


def test_seed_dim_equals_literal(spark, web, monkeypatch):
    """Forced-dim crawl == literal crawl == oracle (the mirror of
    test_known_bucketed_equals_files for the seed path)."""
    pages_df, pages_local, n_docs = web
    seeds = gen_seeds(n_docs, k=3, include_dangling=True)
    params = CrawlParams(depth=2, link_limit=30)
    lit = run_crawl(spark, pages_df, seeds, params)
    _force_dim(monkeypatch)
    dim = run_crawl(spark, pages_df, seeds, params)
    assert _trace(lit) == _trace(dim)
    assert {r.url for r in lit.seen.collect()} == \
           {r.url for r in dim.seen.collect()}
    for k in ("total_pages", "successful_pages", "failed_pages",
              "waves", "urls_scheduled"):
        assert lit.stats[k] == dim.stats[k]
    orc = crawl_oracle(pages_local, seeds, params)
    assert _trace(dim) == orc.trace


def test_seed_dataframe_input(spark, web):
    """A seeds DataFrame (the scale-path input type) auto-engages the
    dim and matches the same seeds passed as a list."""
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=3)
    seeds_df = spark.createDataFrame(
        [(u, int(r)) for u, r in seeds], "url string, seed_rank int")
    params = CrawlParams(depth=2, link_limit=25)
    lit = run_crawl(spark, pages_df, seeds, params)
    dim = run_crawl(spark, pages_df, seeds_df, params)
    assert _trace(lit) == _trace(dim)


def test_seed_dim_resume(spark, web, tmp_path, monkeypatch):
    """Dim-path resume: run one wave, resume to completion — equals a
    one-shot dim run (the persisted seeds_dim is reused)."""
    _force_dim(monkeypatch)
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    sd = str(tmp_path / "state")
    partial = run_crawl(spark, pages_df, seeds,
                        CrawlParams(depth=2, link_limit=30, max_waves=1),
                        state_dir=sd)
    assert partial.stats["waves"] == 1
    resumed = run_crawl(spark, pages_df, seeds,
                        CrawlParams(depth=2, link_limit=30),
                        state_dir=sd, resume=True)
    oneshot = run_crawl(spark, pages_df, seeds,
                        CrawlParams(depth=2, link_limit=30))
    assert _trace(resumed) == _trace(oneshot)


def test_seed_dim_resume_half_materialized(spark, web, tmp_path,
                                           monkeypatch):
    """A seeds_dim write that never committed must not be trusted on
    resume: with its _SUCCESS marker and one part file gone (a crash
    mid-write), the resumed run rebuilds the dim and still equals the
    one-shot dim run."""
    import glob
    import os
    _force_dim(monkeypatch)
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    sd = str(tmp_path / "state")
    run_crawl(spark, pages_df, seeds,
              CrawlParams(depth=2, link_limit=30, max_waves=1),
              state_dir=sd)
    dim = os.path.join(sd, "seeds_dim")
    os.remove(os.path.join(dim, "_SUCCESS"))
    parts = sorted(glob.glob(os.path.join(dim, "part-*.parquet")))
    assert parts  # each part holds seeds: removing one loses some
    os.remove(parts[0])
    resumed = run_crawl(spark, pages_df, seeds,
                        CrawlParams(depth=2, link_limit=30),
                        state_dir=sd, resume=True)
    oneshot = run_crawl(spark, pages_df, seeds,
                        CrawlParams(depth=2, link_limit=30))
    assert _trace(resumed) == _trace(oneshot)
    assert os.path.exists(os.path.join(dim, "_SUCCESS"))
    assert spark.read.parquet(dim).count() == len(seeds)


def test_duplicate_seeds_collapse(spark, web, monkeypatch):
    """Duplicate seeds (same canonical url, different rank) collapse to
    min seed_rank in both modes and in the oracle — a url is crawled at
    most once."""
    pages_df, pages_local, n_docs = web
    base = gen_seeds(n_docs, k=2)
    seeds = base + [(base[0][0], 7), (base[1][0] + "#frag", 9)]
    params = CrawlParams(depth=1, link_limit=20)
    orc = crawl_oracle(pages_local, seeds, params)
    assert len(orc.seen) == len(orc.trace)  # no url crawled twice
    lit = run_crawl(spark, pages_df, seeds, params)
    _force_dim(monkeypatch)
    dim = run_crawl(spark, pages_df, seeds, params)
    assert _trace(lit) == orc.trace
    assert _trace(dim) == orc.trace


def test_ten_thousand_seeds(spark, web):
    """10^4 seeds through the dim path: wave 0 schedules every seed
    (distinct hosts -> politeness never binds), none resolve in the
    corpus, and the trace matches the oracle — the driver never holds a
    seed literal."""
    pages_df, pages_local, _ = web
    n = 10_000
    seeds_df = spark.range(n).selectExpr(
        "concat('https://bulk', CAST(id AS STRING), '.example.net/p',"
        " CAST(id AS STRING)) AS url",
        "CAST(id AS INT) AS seed_rank")
    params = CrawlParams(depth=1, max_waves=2)
    run = run_crawl(spark, pages_df, seeds_df, params,
                    collect_lineage=False)
    assert run.stats["urls_scheduled"] == n
    assert run.stats["failed_pages"] == n
    assert run.stats["waves"] == 1
    seeds = [(f"https://bulk{i}.example.net/p{i}", i) for i in range(n)]
    orc = crawl_oracle(pages_local, seeds, params)
    assert run.stats["failed_pages"] == orc.stats["failed_pages"]
    assert {r.url for r in run.seen.collect()} == orc.seen
