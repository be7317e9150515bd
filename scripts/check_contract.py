"""Driver-contract self-check: runs every queries() entry on Spark and
its oracle_sql() twin on DuckDB at sf0.01, compares row count, schema
(column names) and exact sorted values — a strict local emulation of
the driver's CORRECTNESS gate."""

import os
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from supacrawler_spark.session import get_spark, machine_heap  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # Decimal columns arrive as object from Spark but float64
            # from duckdb .df(): coerce numerics to float first
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), na_position="first")\
             .reset_index(drop=True)


def main():
    only = sys.argv[1:] or None
    os.environ.setdefault("SPARK_DRIVER_MEMORY", machine_heap())
    spark = get_spark(master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SMALL_SCAN", "0") == "1":
        # prove value-invariance of the bench's small-scan repartition
        spark.conf.set("spark.supacrawler.smallScanRepartition", "true")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS" if len(sdf) >= 0 else "??"
            print(f"{status} {name}: rows={len(sdf)} "
                  f"({time.time()-t0:.1f}s) [no oracle: rows-only]")
            continue
        try:
            # .arrow() keeps decimals exact (.df() degrades decimal128
            # -> float64 with occasional 1-ulp error); pandas then gets
            # object-Decimal columns on both sides, converted by the
            # same correctly-rounded float(Decimal) path in normalize()
            odf = con.sql(oracles[name]).arrow().to_pandas()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: columns differ "
                  f"spark={sorted(sdf.columns)} duck={sorted(odf.columns)}")
            n_fail += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rowcount spark={len(sdf)} duck={len(odf)}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=True)
            print(f"OK   {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
        except AssertionError as e:
            # retry with tolerance to distinguish float-noise from logic
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                              rtol=1e-6, atol=1e-9)
                print(f"WARN {name}: values match only approximately")
                n_fail += 1
            except AssertionError:
                print(f"FAIL {name}: values differ: {str(e)[:300]}")
                n_fail += 1
    print("failures:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
