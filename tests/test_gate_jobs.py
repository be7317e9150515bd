"""Every driver-side small path gates through session.bounded_head, and
that gate is ONE Spark job whatever the session's ``spark.sql.limit.*``
confs hold: a row ``collect`` of ``limit(N+1)`` over a sparse
many-partition frame runs Spark's incremental take (1 partition, then
x4), i.e. up to 4 jobs."""

import uuid

import pytest
from pyspark.sql import functions as F

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
