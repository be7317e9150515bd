"""ordered_row_number correctness: the two-phase scale path must
produce exactly the ranks of a plain global window, at any
parallelism (regression: AQE-coalesced partition ids corrupted the
offsets and made 2M-row crawls core-count-dependent)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from supacrawler_spark.operators import rank as R


def _expected(df, cols):
    w = Window.orderBy(*[F.col(c) for c in cols])
    return {r.id: r.exp for r in
            df.withColumn("exp", F.row_number().over(w)).collect()}


def test_two_phase_equals_window(spark):
    df = (spark.range(50_000).withColumnRenamed("id", "id")
          .withColumn("k1", F.pmod(F.xxhash64("id"), F.lit(977)))
          .withColumn("k2", F.col("id")))
    cols = ["k1", "k2"]
    exp = _expected(df, cols)
    # force the two-phase path regardless of size
    got_df = R.ordered_row_number(df, cols, "rk",
                                  hint_count=R.SMALL_INPUT_THRESHOLD + 1)
    got = {r.id: r.rk for r in got_df.collect()}
    assert got == exp


def test_two_phase_stable_across_input_partitioning(spark):
    base = (spark.range(30_000)
            .withColumn("k", F.pmod(F.xxhash64("id"), F.lit(131)))
            .withColumn("u", F.col("id")))
    a = R.ordered_row_number(base.repartition(3), ["k", "u"], "rk",
                             hint_count=10**9)
    b = R.ordered_row_number(base.repartition(23), ["k", "u"], "rk",
                             hint_count=10**9)
    ra = {r.id: r.rk for r in a.collect()}
    rb = {r.id: r.rk for r in b.collect()}
    assert ra == rb


def test_one_based(spark):
    df = spark.range(10).withColumn("v", F.col("id"))
    got = R.ordered_row_number(df, ["v"], "rk", hint_count=10)
    rows = {r.id: r.rk for r in got.collect()}
    assert rows[0] == 1 and rows[9] == 10
