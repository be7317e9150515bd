"""Spark jobs per call, pinned. Every driver-side small path gates
through session.bounded_head, and that gate is ONE Spark job whatever
the session's ``spark.sql.limit.*`` confs hold: a row ``collect`` of
``limit(N+1)`` over a sparse many-partition frame runs Spark's
incremental take (1 partition, then x4), i.e. up to 4 jobs. An input
table's schema is inferred (one job) once per file by
session.read_table, and an operator's jobs run in its caller's job
group."""

import uuid

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from supacrawler_spark import graph, textops

LIMIT_PREFIX = "spark.sql.limit."
AQE_CONF = "spark.sql.adaptive.enabled"


@pytest.fixture
def plain_limits(spark):
    """The session with every ``spark.sql.limit.*`` conf at Spark's
    default (the incremental take starts at one partition) and AQE off
    (so every job is the gate's own, not an adaptive stage); all
    restored after."""
    saved = {k: v for k, v in spark.conf.getAll.items()
             if k.startswith(LIMIT_PREFIX)}
    aqe = spark.conf.get(AQE_CONF)
    for k in saved:
        spark.conf.unset(k)
    spark.conf.set(AQE_CONF, "false")
    yield spark
    spark.conf.set(AQE_CONF, aqe)
    for k, v in saved.items():
        spark.conf.set(k, v)


def _sparse_edges(spark):
    """64 partitions of one edge row each: the incremental take's worst
    case short of an empty frame. The range is longer than any gate's
    bound, so the optimizer cannot drop the limit as redundant."""
    step = 10_000
    ids = spark.range(0, 64 * step, 1, 64).filter(f"id % {step} = 0")
    return ids.select(
        F.concat(F.lit("h"), (F.col("id") % 37).cast("string")).alias("src"),
        F.concat(F.lit("h"), ((F.col("id") * 7 + 3) % 37).cast("string"))
        .alias("dst"),
        (F.col("id") % 5 + 1).alias("weight"))


def _jobs(spark, build):
    """Spark jobs run by building ``build()`` and collecting it."""
    sc = spark.sparkContext
    group = f"gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _cc_edges(edges):
    """The same sparse frame as BIGINT (src, dst) ids."""
    return edges.select(F.substring("src", 2, 9).cast("long").alias("src"),
                        F.substring("dst", 2, 9).cast("long").alias("dst"))


OPS = {"pagerank": graph.pagerank,
       "hits": graph.hits,
       "connected_components": lambda e: textops.connected_components(
           _cc_edges(e))}


@pytest.mark.parametrize("op", sorted(OPS))
def test_small_path_is_one_job(plain_limits, op):
    edges = _sparse_edges(plain_limits)
    assert edges.rdd.getNumPartitions() == 64
    assert _jobs(plain_limits, lambda: OPS[op](edges)) == 1


def _write(path, table):
    """A parquet file written without Spark, so no job is counted."""
    import pyarrow.parquet as pq
    pq.write_table(table, str(path))


def test_read_table_infers_a_file_once(plain_limits, tmp_path):
    import pyarrow as pa
    from supacrawler_spark.session import read_table

    _write(tmp_path / "t.parquet", pa.table({"a": [1, 2, 3]}))
    d = str(tmp_path)
    # the first read's schema job; the collect of limit(0) runs none
    assert _jobs(plain_limits, lambda: read_table(plain_limits, d, "t")
                 .union(read_table(plain_limits, d, "t")).limit(0)) == 1
    assert read_table(plain_limits, str(tmp_path), "t").count() == 3


def test_read_table_rewritten_file_is_inferred_again(plain_limits, tmp_path):
    import os

    import pyarrow as pa
    from supacrawler_spark.session import read_table

    path = tmp_path / "t.parquet"
    _write(path, pa.table({"a": [1, 2, 3]}))
    assert read_table(plain_limits, str(tmp_path), "t").columns == ["a"]
    st = os.stat(path)
    _write(path, pa.table({"b": ["x"], "c": [1.5]}))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    df = read_table(plain_limits, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_read_table_reads_a_directory(plain_limits, tmp_path):
    import pyarrow as pa
    from supacrawler_spark.session import read_table

    d = tmp_path / "t.parquet"
    d.mkdir()
    _write(d / "part-0.parquet", pa.table({"a": [1, 2]}))
    _write(d / "part-1.parquet", pa.table({"a": [3]}))
    for _ in range(2):
        df = read_table(plain_limits, str(tmp_path), "t")
        assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_dup_clusters_job_count(plain_limits):
    """dup_clusters on the fixture once its documents schema is known:
    5 jobs, the two bounded_head gates (LSH pairs, verified edges) and
    the broadcasts they wait on. Verifying by shingle-row join, with a
    schema job per documents read, it ran 9."""
    textops._docs(plain_limits, SF_DIR)
    assert _jobs(plain_limits,
                 lambda: textops.dup_clusters(plain_limits, SF_DIR)) == 5


def test_multi_signal_clusters_keeps_callers_job_group(spark):
    """The two arm gates run on pool threads; every job they start
    still lands in the caller's job group, none in no group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"msc-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "multi_signal_clusters")
    try:
        textops.multi_signal_clusters(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup(group)) >= 2
