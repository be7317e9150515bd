"""Crawl set-up: the seed set is one canonical dim built once, its
set-up jobs are pinned (AQE off, jobs counted by job group, as in
test_gate_jobs.py), the state dir holds only the set-up files resume
needs, and resume redoes a set-up write that never committed."""

import os
import shutil
import uuid

import pytest

from supacrawler_spark import urlkit as U
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import crawl as crawl_mod
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.plans.state import (
    CatalogStateBackend,
    ParquetStateBackend,
)
from supacrawler_spark.sources import gen_seeds

AQE_CONF = "spark.sql.adaptive.enabled"


@pytest.fixture
def no_aqe(spark):
    aqe = spark.conf.get(AQE_CONF)
    spark.conf.set(AQE_CONF, "false")
    yield spark
    spark.conf.set(AQE_CONF, aqe)


def _jobs(spark, fn):
    """(fn's result, the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"setup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bulk_seeds(n):
    """``n`` distinct seeds, none of them in the corpus."""
    return [(f"https://bulk{i}.example.net/p{i}", i) for i in range(n)]


def _trace(run):
    return [tuple(r) for r in run.trace.collect()]


def test_large_list_setup_is_one_job(no_aqe, tmp_path):
    """A 2,000-seed list: canonicalized on the driver, written once;
    its size is driver-known, so set-up and frontier size are the
    dim write alone."""
    seeds = _bulk_seeds(2000)
    seedset, jobs = _jobs(no_aqe, lambda: crawl_mod._SeedSet(
        no_aqe, seeds, str(tmp_path), resume=False))
    assert seedset.urls is None  # dim mode
    assert jobs == 1
    assert seedset.n == 2000
    assert os.listdir(tmp_path) == ["seeds_dim"]


def test_small_list_setup_runs_no_job(no_aqe, tmp_path):
    def setup():
        s = crawl_mod._SeedSet(no_aqe, _bulk_seeds(3), str(tmp_path),
                               resume=False)
        s.frontier()
        return s

    seedset, jobs = _jobs(no_aqe, setup)
    assert jobs == 0
    assert seedset.n == 3
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize("threshold", [crawl_mod.SEED_DIM_THRESHOLD, -1])
def test_duplicate_seeds_counted_once(spark, tmp_path, monkeypatch,
                                      threshold):
    """Duplicates and ``#fragment`` variants of a seed collapse to one
    canonical url, min seed_rank, in the reported count and the
    frontier alike (literal and dim mode)."""
    monkeypatch.setattr(crawl_mod, "SEED_DIM_THRESHOLD", threshold)
    base = _bulk_seeds(4)
    seeds = base + [(base[0][0], 7), (base[1][0] + "#frag", 9),
                    (base[2][0] + "#", 8)]
    seedset = crawl_mod._SeedSet(spark, seeds, str(tmp_path), resume=False)
    assert seedset.n == 4
    front = {r.url: r.seed_rank for r in seedset.frontier().collect()}
    assert front == {U.canonical_url(u): r for u, r in base}


def test_large_list_state_dir_layout(spark, web, tmp_path):
    """A crawl from more than SEED_DIM_THRESHOLD list seeds (duplicates
    included) leaves the seed dim as its only seed file, and no
    corpus-url projection file."""
    pages_df, _, n_docs = web
    seeds = (gen_seeds(n_docs, k=2)
             + _bulk_seeds(crawl_mod.SEED_DIM_THRESHOLD + 10))
    seeds += seeds[:5]
    sd = str(tmp_path / "state")
    run = run_crawl(spark, pages_df, seeds, CrawlParams(depth=1, max_waves=1),
                    state_dir=sd, collect_lineage=False)
    assert run.stats["urls_scheduled"] == len(seeds) - 5
    names = set(os.listdir(sd))
    assert "seeds_dim" in names
    assert not names & {"seeds_keys", "pages_urls"}


@pytest.mark.parametrize("backend_cls",
                         [ParquetStateBackend, CatalogStateBackend],
                         ids=["parquet", "catalog"])
def test_resume_redoes_uncommitted_pages(spark, web, tmp_path, backend_cls):
    """A crash while the prepared corpus was being written leaves
    ``pages`` as a bare ``_temporary/`` tree with no ``_SUCCESS``:
    resume rewrites it instead of reading it, and the resumed crawl
    equals the one-shot crawl."""
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=2, link_limit=30)
    sd = str(tmp_path / "state")
    be = backend_cls(spark, sd)
    try:
        part = run_crawl(spark, pages_df, seeds,
                         CrawlParams(depth=2, link_limit=30, max_waves=1),
                         state_dir=sd, state_backend=be)
        assert part.stats["waves"] == 1
        pages = os.path.join(sd, "pages")
        shutil.rmtree(pages)
        os.makedirs(os.path.join(pages, "_temporary", "0"))
        resumed = run_crawl(spark, pages_df, seeds, params, state_dir=sd,
                            resume=True, state_backend=be)
        assert os.path.exists(os.path.join(pages, "_SUCCESS"))
        oneshot = run_crawl(spark, pages_df, seeds, params)
        assert _trace(resumed) == _trace(oneshot)
    finally:
        be.reset()
