"""run_crawl's footprint on the caller's SparkSession and its manifest
phase timings: a crawl that raises mid-wave restores every conf it
overrode, releases its caches and waits for its own background work; a
crawl releases only the caches it persisted itself and measures a
local corpus under any path; and the per-wave ``stage_ms`` phases are
disjoint intervals of the wave."""

import shutil
import tempfile
import time

import pytest

from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.plans.state import ParquetStateBackend
from supacrawler_spark.sources import gen_seeds

CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
         "spark.sql.files.openCostInBytes",
         "spark.sql.files.maxPartitionBytes")


class _FrontierWriteFails(ParquetStateBackend):
    def write_wave(self, name, it, df):
        if name == "frontier":
            raise RuntimeError("injected frontier write failure")
        super().write_wave(name, it, df)


class _SlowAppendThenResultsFail(ParquetStateBackend):
    """Known appends land ~2 s after they are issued; the results write
    of wave 2 raises while wave 1's append is still running."""

    appended = False

    def known_append(self, df):
        time.sleep(2)
        super().known_append(df)
        self.appended = True

    def write_wave(self, name, it, df):
        if name == "results" and it == 2:
            raise RuntimeError("injected results write failure")
        super().write_wave(name, it, df)


class _RecordsOpenCost(ParquetStateBackend):
    """Records the scan open cost in force while each wave is written."""

    open_cost = None

    def write_wave(self, name, it, df):
        self.open_cost = self.spark.conf.get(
            "spark.sql.files.openCostInBytes")
        super().write_wave(name, it, df)


def _persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_raising_crawl_restores_session(spark, web):
    pages_df, _, n_docs = web
    before = {k: spark.conf.get(k) for k in CONFS}
    cached = _persistent_rdds(spark)
    d = tempfile.mkdtemp(prefix="crawl_session_")
    try:
        with pytest.raises(RuntimeError, match="injected"):
            run_crawl(spark, pages_df, gen_seeds(n_docs, k=2),
                      CrawlParams(depth=2, link_limit=30), state_dir=d,
                      state_backend=_FrontierWriteFails(spark, d))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert {k: spark.conf.get(k) for k in CONFS} == before
    assert _persistent_rdds(spark) == cached


def test_raising_crawl_waits_for_background_work(spark, web, monkeypatch):
    """The known append issued at the end of wave 1 has finished by the
    time wave 2's exception reaches the caller: no job of the crawl is
    still running on the session it handed back."""
    from supacrawler_spark.plans import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "KNOWN_TABLE_THRESHOLD", -1)
    pages_df, _, n_docs = web
    d = tempfile.mkdtemp(prefix="crawl_session_")
    be = _SlowAppendThenResultsFail(spark, d)
    try:
        with pytest.raises(RuntimeError, match="injected"):
            run_crawl(spark, pages_df, gen_seeds(n_docs, k=2),
                      CrawlParams(depth=3, link_limit=80), state_dir=d,
                      state_backend=be)
        assert be.appended
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_background_work_runs_in_order_and_reraises():
    """run_crawl's background helper runs submitted work one piece at a
    time, in submission order (two known-table appends never write at
    once), and join re-raises the first failure once all of it has
    run."""
    import sys

    from supacrawler_spark.plans.crawl import _Background

    running, order, overlaps = [0], [], []

    def work(i):
        running[0] += 1
        if running[0] > 1:
            overlaps.append(i)
        time.sleep(0.002)
        order.append(i)
        running[0] -= 1
        if i in (5, 9):
            raise ValueError(f"failed {i}")

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        bg = _Background()
        for i in range(16):
            bg.submit(work, i)
        with pytest.raises(ValueError, match="failed 5"):
            bg.join()
    finally:
        sys.setswitchinterval(prev)
    assert order == list(range(16))
    assert overlaps == []


def test_stage_ms_phases_are_disjoint(spark, web):
    pages_df, _, n_docs = web
    before = {k: spark.conf.get(k) for k in CONFS}
    run = run_crawl(spark, pages_df, gen_seeds(n_docs, k=2),
                    CrawlParams(depth=2, link_limit=30))
    assert {k: spark.conf.get(k) for k in CONFS} == before
    assert any(ln["n_frontier_next"] > 0 for ln in run.manifest)
    for line in run.manifest:
        ms = line["stage_ms"]
        assert set(ms) == {"fetch_extract", "discovery", "frontier", "agg"}
        assert all(v >= 0 for v in ms.values())
        assert sum(ms.values()) <= line["wall_ms"]
        if line["n_frontier_next"] > 0:
            assert ms["frontier"] > 0


def test_crawl_keeps_callers_cache(spark, web):
    """A prepared corpus the caller already cached stays cached after
    the crawl: it releases only the caches it persisted itself."""
    from pyspark import StorageLevel

    from supacrawler_spark.sources import prepare_pages

    pages_df, _, n_docs = web
    prep = prepare_pages(pages_df).persist()
    try:
        prep.count()
        level = prep.storageLevel
        assert level != StorageLevel.NONE
        cached = _persistent_rdds(spark)
        run_crawl(spark, prep, gen_seeds(n_docs, k=1),
                  CrawlParams(depth=2, link_limit=20), pages_prepared=True)
        assert prep.storageLevel == level
        assert _persistent_rdds(spark) == cached
    finally:
        prep.unpersist()


def test_corpus_under_escaped_path_is_measured(spark, web, tmp_path):
    """``inputFiles`` percent-encodes paths. A corpus under a directory
    whose name holds a space and a percent sign is still measured, so
    the crawl lowers the scan open cost for it as for any other local
    corpus, and restores it afterwards."""
    key = "spark.sql.files.openCostInBytes"
    pages_df, _, n_docs = web
    d = str(tmp_path / "a b%c")
    be = _RecordsOpenCost(spark, d)
    before = spark.conf.get(key)
    run = run_crawl(spark, pages_df, gen_seeds(n_docs, k=1),
                    CrawlParams(depth=1, link_limit=10), state_dir=d,
                    state_backend=be)
    assert run.stats["successful_pages"] > 0
    assert be.open_cost == str(512 * 1024) != before
    assert spark.conf.get(key) == before
