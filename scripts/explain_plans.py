"""Print the physical plans of the engine's load-bearing operators —
the `.explain("formatted")` evidence that the plans have the shape the
scale design claims (see README "Scale design" and BENCH.md):

- fetch_join_split hits (small waves): ONE broadcast exchange of the
  slim wave, corpus scanned (not shuffled);
- fetch_join shuffle path: SHUFFLE_HASH with frontier build side;
- known-state anti-join vs the BUCKETED table: known side scans
  `Bucketed: true` with NO Exchange (candidates adapt);
- minhash_lsh_pairs: map-side partial aggregation before the exchange;
- cosine_near_dup: equi-join on (band, sketch) — no cross product.

Usage: python scripts/explain_plans.py [sf_dir]
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from supacrawler_spark.session import get_spark, machine_heap  # noqa: E402


def header(title):
    print(f"\n{'=' * 72}\n{title}\n{'=' * 72}")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", machine_heap())
    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      app_name="explain-plans")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    from supacrawler_spark import simsearch, textops
    from supacrawler_spark.operators.fetch import fetch_join, fetch_join_split
    from supacrawler_spark.sources import gen_pages_df, prepare_pages

    pages_df, _ = gen_pages_df(spark, sf_dir, limit=200)
    prep = prepare_pages(pages_df)
    sched = prep.limit(50).select(
        F.col("url_canon").alias("url"), F.lit(0).alias("attempt"))

    header("fetch_join_split — broadcast hits (small wave)")
    fetch_join_split(sched, prep)[0].explain("formatted")

    header("fetch_join — SHUFFLE_HASH path (large wave)")
    fetch_join(sched, prep).explain("formatted")

    header("known-state anti-join vs BUCKETED table (no Exchange on "
           "the known side)")
    known = prep.select(F.col("url_canon").alias("url"),
                        F.xxhash64("url_canon").alias("url_hash"))
    (known.repartition(8, "url").write.mode("overwrite")
     .format("parquet").bucketBy(8, "url")
     .option("path", "/tmp/explain_known").saveAsTable("explain_known"))
    cand = prep.select(F.col("url_canon").alias("url"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cand.join(spark.table("explain_known").select("url"),
              "url", "left_anti").explain("formatted")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    header("minhash_lsh_pairs — banded equi-join, map-side combine")
    textops.minhash_lsh_pairs(spark, sf_dir).explain("formatted")

    header("cosine_near_dup — (band, sketch) equi-join, no cross "
           "product")
    simsearch.cosine_near_dup(spark, sf_dir).explain("formatted")

    spark.sql("DROP TABLE IF EXISTS explain_known")


if __name__ == "__main__":
    main()
