"""Checkpoint/resume: kill after wave k, resume from the manifest,
final state equals the uninterrupted run (SURVEY.md §5.2.5;
north_rule "resumable from checkpoint")."""

import os
import shutil
import tempfile

from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.sources import gen_seeds


def _trace(run):
    return [tuple(r) for r in run.trace.collect()]


def test_resume_equals_uninterrupted(spark, web):
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    full_params = CrawlParams(depth=3, link_limit=60)

    full = run_crawl(spark, pages_df, seeds, full_params)
    assert full.stats["waves"] >= 2, "need a multi-wave crawl to test resume"

    state = tempfile.mkdtemp(prefix="resume_test_")
    try:
        # run only the first wave, then stop
        partial_params = CrawlParams(depth=3, link_limit=60, max_waves=1)
        part = run_crawl(spark, pages_df, seeds, partial_params,
                         state_dir=state)
        assert part.stats["waves"] == 1

        resumed = run_crawl(spark, pages_df, seeds, full_params,
                            state_dir=state, resume=True)
        assert _trace(resumed) == _trace(full)
        assert {r.url for r in resumed.seen.collect()} == \
               {r.url for r in full.seen.collect()}
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert resumed.stats[k] == full.stats[k]
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_resume_after_crash_between_frontier_write_and_commit(spark, web):
    """Wave k's frontier/results files are written BEFORE the manifest
    line that commits them. A crash in that window leaves orphan files;
    a resumed run must ignore them (known_df would otherwise anti-join
    the regenerated candidates against the orphan's is_new rows and
    silently drop a whole wave of discoveries)."""
    import json

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=60)
    full = run_crawl(spark, pages_df, seeds, params)
    assert full.stats["waves"] >= 3, "need >=3 waves to stage the crash"

    state = tempfile.mkdtemp(prefix="crash_test_")
    try:
        # run 3 waves committed, then forge the crash window: wave 2's
        # files stay on disk but its manifest line is rolled back
        run_crawl(spark, pages_df, seeds,
                  CrawlParams(depth=3, link_limit=60, max_waves=3),
                  state_dir=state)
        mpath = os.path.join(state, "manifest.jsonl")
        with open(mpath) as f:
            lines = [l for l in f if l.strip()]
        assert len(lines) == 3
        assert os.path.isdir(os.path.join(state, "frontier", "00002"))
        with open(mpath, "w") as f:
            f.writelines(lines[:2])

        resumed = run_crawl(spark, pages_df, seeds, params,
                            state_dir=state, resume=True)
        assert _trace(resumed) == _trace(full)
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert resumed.stats[k] == full.stats[k]
        # the orphan wave files were pruned and rewritten, not merged
        committed = [json.loads(l)["iter"] for l in lines[:2]]
        assert committed == [0, 1]
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_resume_retry_bloom_interaction(spark, web, monkeypatch):
    """Resume a crawl mid-flight WITH retry_failures=True and an
    ACTIVE bloom filter: retry rows carry is_new=false and bypass the
    known-set anti-join (plans/crawl.py F9 path) — that bypass must
    survive a resume boundary, and bloom state rebuilt on resume must
    not eat the retried URLs. Pinned against both the uninterrupted
    run and the oracle."""
    from supacrawler_spark.oracle import crawl_oracle
    from supacrawler_spark.plans import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", 0)
    pages_df, pages_local, n_docs = web
    # dangling seed + dangling /void links -> real failures to retry
    seeds = gen_seeds(n_docs, k=2, include_dangling=True)
    params = CrawlParams(depth=3, link_limit=60, retry_failures=True)
    orc = crawl_oracle(pages_local, seeds, params)

    full = run_crawl(spark, pages_df, seeds, params, seen_filter="bloom")
    assert full.stats["waves"] >= 3, "need >=3 waves to stage the resume"
    # the scenario must actually exercise retries across the boundary:
    # some url appears in waves both before and after the cut
    from collections import Counter
    by_url_iters = {}
    for _, it, _, url, _ in orc.trace:
        by_url_iters.setdefault(url, []).append(it)
    assert any(min(v) <= 1 < max(v) for v in by_url_iters.values()
               if len(v) > 1), "no retry spans the wave-2 resume cut"

    state = tempfile.mkdtemp(prefix="resume_retry_bloom_")
    try:
        part = run_crawl(spark, pages_df, seeds,
                         CrawlParams(depth=3, link_limit=60,
                                     retry_failures=True, max_waves=2),
                         state_dir=state, seen_filter="bloom")
        assert part.stats["waves"] == 2
        resumed = run_crawl(spark, pages_df, seeds, params,
                            state_dir=state, resume=True, seen_filter="bloom")
        assert _trace(resumed) == _trace(full)
        etrace = [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code)
                  for r in resumed.trace.collect()]
        assert etrace == orc.trace
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert resumed.stats[k] == orc.stats[k]
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_resume_retry_off_over_retry_era_state(spark, web):
    """A resume with retry_failures=False over a state dir whose
    earlier waves ran with retry_failures=True must report
    failed_pages as DISTINCT failed urls (the oracle's errors-dict
    semantics), not one per attempt — the manifest records the retry
    mode per wave and the fast path must stand down."""
    import pyspark.sql.functions as F

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2, include_dangling=True)
    state = tempfile.mkdtemp(prefix="retry_era_")
    try:
        part = run_crawl(spark, pages_df, seeds,
                         CrawlParams(depth=3, link_limit=60,
                                     retry_failures=True, max_waves=2),
                         state_dir=state)
        assert part.stats["waves"] == 2
        resumed = run_crawl(spark, pages_df, seeds,
                            CrawlParams(depth=3, link_limit=60,
                                        retry_failures=False),
                            state_dir=state, resume=True)
        err_rows = resumed._results_all().filter(
            F.col("error").isNotNull())
        n_attempt_rows = err_rows.count()
        n_distinct = err_rows.select("url").distinct().count()
        assert n_attempt_rows > n_distinct, \
            "scenario must contain multi-attempt failures"
        assert resumed.stats["failed_pages"] == n_distinct
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_resume_from_pre_upgrade_manifest(spark, web):
    """A state dir whose manifest lines predate ``failures``,
    ``hosts_next`` and ``scheduled`` resumes to the oracle's trace and
    stats: the next waves plan without those size hints, and
    failed_pages falls back to a distinct count of error urls, the
    failures committed before the cut included."""
    import json

    from supacrawler_spark.oracle import crawl_oracle

    pages_df, pages_local, n_docs = web
    seeds = gen_seeds(n_docs, k=2, include_dangling=True)
    params = CrawlParams(depth=3, link_limit=60)
    orc = crawl_oracle(pages_local, seeds, params)
    state = tempfile.mkdtemp(prefix="pre_upgrade_")
    try:
        run_crawl(spark, pages_df, seeds,
                  CrawlParams(depth=3, link_limit=60, max_waves=2),
                  state_dir=state)
        mpath = os.path.join(state, "manifest.jsonl")
        with open(mpath) as f:
            lines = [json.loads(ln) for ln in f if ln.strip()]
        assert len(lines) == 2
        assert lines[-1]["failures"] > 0, "need failures before the cut"
        with open(mpath, "w") as f:
            for ln in lines:
                for k in ("failures", "hosts_next", "scheduled"):
                    del ln[k]
                f.write(json.dumps(ln) + "\n")

        resumed = run_crawl(spark, pages_df, seeds, params,
                            state_dir=state, resume=True)
        assert resumed.stats["waves"] > 2
        etrace = [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code)
                  for r in resumed.trace.collect()]
        assert etrace == orc.trace
        for k in ("total_pages", "successful_pages", "failed_pages"):
            assert resumed.stats[k] == orc.stats[k]
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_manifest_written_per_wave(spark, web):
    pages_df, _, n_docs = web
    state = tempfile.mkdtemp(prefix="manifest_test_")
    try:
        run = run_crawl(spark, pages_df, gen_seeds(n_docs, k=1),
                        CrawlParams(depth=2, link_limit=20),
                        state_dir=state)
        with open(os.path.join(state, "manifest.jsonl")) as f:
            lines = [l for l in f if l.strip()]
        assert len(lines) == run.stats["waves"]
        # lineage rows exist for every committed wave
        lin = run.lineage.collect()
        assert {r.iter for r in lin} == set(range(run.stats["waves"]))
        assert all(r.rows > 0 for r in lin)
    finally:
        shutil.rmtree(state, ignore_errors=True)
