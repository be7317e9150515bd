"""run_crawl's footprint on the caller's SparkSession and its manifest
phase timings: a crawl that raises mid-wave restores every conf it
overrode and releases its caches, and the per-wave ``stage_ms`` phases
are disjoint intervals of the wave."""

import shutil
import tempfile

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
