"""The Iceberg seam (plans/state.py): run_crawl's resume + crash suite
against BOTH state backends, plus cross-backend trace equivalence —
proof that the table layer is genuinely pluggable (a real Iceberg
adapter swaps the storage format inside one backend class)."""

import shutil
import tempfile

import pytest

from supacrawler_spark.params import CrawlParams
from supacrawler_spark.schemas import FRONTIER_DISK_SCHEMA
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.plans.state import (
    CatalogStateBackend,
    ParquetStateBackend,
)
from supacrawler_spark.sources import gen_seeds

BACKENDS = {
    "parquet": ParquetStateBackend,
    "catalog": CatalogStateBackend,
}


def _trace(run):
    return [tuple(r) for r in run.trace.collect()]


@pytest.fixture(params=sorted(BACKENDS))
def backend_cls(request):
    return BACKENDS[request.param]


def _state(spark, cls):
    d = tempfile.mkdtemp(prefix="state_seam_")
    return d, cls(spark, d)


def _cleanup(spark, d, be):
    be.reset()
    shutil.rmtree(d, ignore_errors=True)


def test_backend_traces_equal_and_resume(spark, web, backend_cls):
    """Per backend: (a) the full crawl equals the default-backend
    reference trace; (b) stop-after-one-wave + resume equals the
    uninterrupted run (test_resume_equals_uninterrupted, generalized)."""
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=60)

    ref = run_crawl(spark, pages_df, seeds, params)  # default backend
    assert ref.stats["waves"] >= 2
    want = _trace(ref)

    d, be = _state(spark, backend_cls)
    try:
        full = run_crawl(spark, pages_df, seeds, params,
                         state_dir=d, state_backend=be)
        assert _trace(full) == want
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert full.stats[k] == ref.stats[k]
    finally:
        _cleanup(spark, d, be)

    d, be = _state(spark, backend_cls)
    try:
        part = run_crawl(spark, pages_df, seeds,
                         CrawlParams(depth=3, link_limit=60, max_waves=1),
                         state_dir=d, state_backend=be)
        assert part.stats["waves"] == 1
        resumed = run_crawl(spark, pages_df, seeds, params, state_dir=d,
                            resume=True,
                            state_backend=backend_cls(spark, d))
        assert _trace(resumed) == want
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert resumed.stats[k] == ref.stats[k]
    finally:
        _cleanup(spark, d, be)


def test_backend_crash_window_heals(spark, web, backend_cls):
    """Backend-neutral restaging of
    test_resume_after_crash_between_frontier_write_and_commit: commit 3
    waves, roll the commit log back to 2 (wave tables stay — the
    write->commit crash window), resume, expect the uninterrupted
    trace. prune_uncommitted must drop the orphan wave on every
    backend."""
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=60)
    full = run_crawl(spark, pages_df, seeds, params)
    assert full.stats["waves"] >= 3, "need >=3 waves to stage the crash"

    d, be = _state(spark, backend_cls)
    try:
        run_crawl(spark, pages_df, seeds,
                  CrawlParams(depth=3, link_limit=60, max_waves=3),
                  state_dir=d, state_backend=be)
        fresh = backend_cls(spark, d)
        assert len(fresh.read_manifest()) == 3
        fresh.rollback_manifest(2)
        assert [ln["iter"] for ln in fresh.read_manifest()] == [0, 1]
        # the orphan wave's tables are still present pre-resume
        assert fresh.read_wave("frontier", 2,
                               FRONTIER_DISK_SCHEMA).count() > 0

        resumed = run_crawl(spark, pages_df, seeds, params, state_dir=d,
                            resume=True,
                            state_backend=backend_cls(spark, d))
        assert _trace(resumed) == _trace(full)
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert resumed.stats[k] == full.stats[k]
    finally:
        _cleanup(spark, d, be)


def test_backend_fresh_run_resets_used_state(spark, web, backend_cls):
    """A non-resume run over a used state dir must reset the backend's
    tables and produce the reference trace (not merge with stale
    state)."""
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=60)
    ref = run_crawl(spark, pages_df, seeds, params)

    d, be = _state(spark, backend_cls)
    try:
        run_crawl(spark, pages_df, seeds,
                  CrawlParams(depth=2, link_limit=20),
                  state_dir=d, state_backend=be)
        again = run_crawl(spark, pages_df, seeds, params, state_dir=d,
                          state_backend=backend_cls(spark, d))
        assert _trace(again) == _trace(ref)
    finally:
        _cleanup(spark, d, be)


def test_backend_known_table_engaged(spark, web, backend_cls, monkeypatch):
    """KNOWN_TABLE_THRESHOLD=-1 exercises the backend's bucketed known
    table (rebuild + append + compaction every 2 appends) — trace must
    equal the plain run."""
    from supacrawler_spark.plans import crawl as crawl_mod

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=60)
    ref = run_crawl(spark, pages_df, seeds, params)
    monkeypatch.setattr(crawl_mod, "KNOWN_TABLE_THRESHOLD", -1)

    d = tempfile.mkdtemp(prefix="state_seam_")
    be = backend_cls(spark, d, known_compact_every=2)
    try:
        run = run_crawl(spark, pages_df, seeds, params, state_dir=d,
                        state_backend=be)
        assert _trace(run) == _trace(ref)
    finally:
        _cleanup(spark, d, be)
