"""SparkSession factory with scale-oriented defaults.

All knobs here are the ones that matter at 100 TB: AQE (runtime
coalescing + skew-join splitting), Arrow-batched Python UDF transfer
with small batches (the html column is fat — SURVEY.md §4.3), explicit
shuffle partitions scaled with parallelism (north_rule: "explicit
control of shuffle partitions").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: "str | None" = None,
    app_name: str = "supacrawler-spark",
    shuffle_partitions: "int | None" = None,
    arrow_batch: "int | None" = None,
    extra_conf: "dict | None" = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to the local core
    count so one wave's shuffle saturates the executors without tiny
    partitions; on a real cluster pass ~2-3x total cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(8, int(master[6:-1]))
        else:
            shuffle_partitions = os.cpu_count() or 8
    if arrow_batch is None:
        # 2048 rows x ~5-10KB html ≈ 10-20MB in flight per task: big
        # enough that the JVM<->python socket round-trips stop being a
        # per-wave fixed cost, small enough not to buffer-bloat at
        # Common-Crawl page weights. Heavier corpora: lower via env.
        arrow_batch = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))

    # Allocator hygiene for the Python workers (measured on this box:
    # ~1.6x median extraction speedup, large-stall tail removed). The
    # default glibc trim + pyarrow jemalloc purging madvise()-return
    # freed pages on every batch; with 16+ workers the resulting TLB
    # shootdowns burn kernel time on every vCPU. Keep allocations
    # process-local and stop returning pages eagerly.
    worker_env = {
        "ARROW_DEFAULT_MEMORY_POOL": "system",
        "MALLOC_TRIM_THRESHOLD_": "-1",
        "MALLOC_ARENA_MAX": "2",
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
    }
    for k, v in worker_env.items():
        os.environ.setdefault(k, v)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # fat binary/html columns: 4096-row vectorized reader batches
        # would buffer ~100MB+ per task at Common-Crawl page weights
        .config("spark.sql.parquet.columnarReaderBatchSize",
                os.environ.get("SPARK_GRAFT_READER_BATCH", "1024"))
        # Pin the heap and pre-touch it: a growable heap (default tiny
        # -Xms with a large -Xmx) makes G1 commit/uncommit regions
        # under load — on a many-vCPU VM the resulting mmap churn
        # serializes every faulting thread on mmap_lock and froze this
        # box for 60s+ at a time (measured: 45% of 32 CPUs in kernel
        # mode, jstack unable to attach). 12g pinned is ~3x headroom
        # for the heaviest suite query; override via SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.driver.extraJavaOptions",
                "-Xms" + os.environ.get("SPARK_DRIVER_MEMORY", "12g")
                + " -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in worker_env.items():
        b = b.config(f"spark.executorEnv.{k}", os.environ[k])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def machine_heap() -> str:
    """A driver heap sized to this machine: a quarter of physical
    memory, 1-8 GiB. ``get_spark`` pins (and pre-touches) whatever
    ``SPARK_DRIVER_MEMORY`` says, 12g when unset; the test suite and the
    contract check set it to this first (an explicit value still wins),
    so their JVM never takes a small machine's whole memory."""
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{min(8, max(1, kib // 4 // 2**20))}g"


def bounded_head(df, bound: int):
    """The gate of every driver-side small path: ``df`` as one
    ``pyarrow.Table`` when it holds at most ``bound`` rows, else None.
    Below the bound the table IS the data, so the small path never
    evaluates ``df`` a second time; the bound is the caller's module
    constant, the only selector of its path.

    ``toArrow`` runs the ``limit(bound + 1)`` in ONE job whatever the
    session's ``spark.sql.limit.*`` confs hold, where a row ``collect``
    runs Spark's incremental take (1 partition, then x4: up to 4
    sequential jobs of fixed driver latency over a sparse frame). Read
    values with ``to_pylist``/``to_pydict``: Python ints, never numpy
    int64, so the driver mirrors of the BIGINT operators compute on
    exact integers."""
    tbl = df.limit(bound + 1).toArrow()
    return tbl if tbl.num_rows <= bound else None


def arrow_df(spark, columns, schema):
    """Driver-side data as an Arrow-backed LocalRelation: ``columns`` is
    ``{name: values}`` in ``schema`` field order, or a ``pyarrow.Table``;
    ``schema`` (DDL string or StructType) is what the table is cast to.

    ``spark.createDataFrame(list_of_rows)`` parallelizes the rows into
    an RDD (defaultParallelism slices), and EVERY evaluation of that
    scan pays a Python-worker round-trip per slice — measured 3.4-3.8 s
    per crawl preloop for a 42-row politeness dim once ``coalesce(1)``
    serialized 32 slice evaluations into one task (guide §4: the
    JVM↔Python boundary is never free). An Arrow table becomes a
    LocalTableScan that evaluates driver-side in milliseconds, runs no
    Spark job to build, and constant-folds into consumers."""
    import pyarrow as pa
    return spark.createDataFrame(pa.table(columns), schema)


def arrow_local_df(spark, rows, schema):
    """Tiny driver-side dim from tuples in ``schema`` field order."""
    return arrow_df(spark, {n: [r[i] for r in rows]
                            for i, n in enumerate(schema.fieldNames())},
                    schema)


# The session confs parquet schema inference reads: a schema inferred
# under one setting is not the schema of the same file under another.
_SCHEMA_CONFS = ("spark.sql.parquet.binaryAsString",
                 "spark.sql.parquet.int96AsTimestamp",
                 "spark.sql.parquet.mergeSchema",
                 "spark.sql.parquet.inferTimestampNTZ.enabled")
_schemas: dict = {}


def read_table(spark, sf_dir: str, name: str):
    """The ``<sf_dir>/<name>.parquet`` input table, inferring its schema
    once per file: ``spark.read.parquet`` runs a one-task Spark job to
    read the footer on every call (~100 ms of fixed driver latency, the
    corpus operators make dozens of reads per pass), while a read with a
    given schema runs none. The first read of a regular file infers and
    remembers its schema; later reads pass it. The memo key is the
    absolute path, size, mtime and the schema-inference confs, so a
    rewritten file or a changed conf is inferred again. A directory (or
    any non-local path) is inferred on every read: its schema is the
    merge of files that may change without its own stat changing."""
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns,
           *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    # Two threads reading one file for the first time may both infer it
    # and store equal schemas: a duplicate job, never a wrong schema.
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _schemas[key] = df.schema
    return df


SMALL_SCAN_CONF = "spark.supacrawler.smallScanRepartition"


def split_small_scan(df):
    """Heal degenerate inputs: a parquet written as ONE row group
    (single-threaded writers — DuckDB COPY, pandas) cannot be split by
    maxPartitionBytes, so every scan-stage operator (explode + partial
    agg fuse into the scan) runs as ONE task at any core count
    (measured: dup_span_stats 18.6s -> 2.1s at local[32] after this).
    Gated OFF by default: a production input has many splits and the
    repartition would be a pointless full exchange — bench.py turns it
    on because the sandbox fixtures are single-row-group files. The
    exchange moves only the slim pre-explode rows."""
    spark = df.sparkSession
    if spark.conf.get(SMALL_SCAN_CONF, "false") != "true":
        return df
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
