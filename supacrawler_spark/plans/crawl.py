"""The iterative crawl driver loop (SURVEY.md §3.1 re-architecture).

``run_crawl`` sets up, runs ``_wave_step`` until the frontier or a
budget runs out, and reports stats. The pieces:

- ``_Cursor``: the crawl position one manifest line carries (fresh
  start, resume and every wave commit);
- ``_Session``: the crawl's footprint on the caller's SparkSession —
  conf overrides, the caches it persisted, its background work — with
  one release path on any exit;
- ``_SeenSet``: the URL-seen decision of discovery (exact anti-join,
  with the seen filter and the bucketed known table engaged by size);
- ``_wave_step``: schedule -> fetch/extract -> discover -> commit.

One Spark job pipeline per BFS wave:

    frontier --politeness rank--> scheduled --⨝ pages--> extraction UDF
      |                               |                      |
      deferred                    seen/known append      results append
      ^                                                       |
      +---- next frontier <-- dedup/cap <-- emission filters <-+ explode

State lives behind the StateBackend seam (plans/state.py — the
Iceberg-snapshot role, SURVEY.md §7.1.6): per-wave tables + a
wave-commit manifest, ParquetStateBackend (dirs + JSONL) by default,
CatalogStateBackend (Spark SQL catalog tables, the real-Iceberg
adapter shape) as the pluggability proof; no Iceberg jars ship in
this sandbox. A wave is committed iff its manifest entry exists;
every wave's writes are overwrite-idempotent, so a crash mid-wave
resumes cleanly from the last committed wave (north_rule "resumable
from checkpoint"). Per-wave materialization also truncates the
iterative plan lineage — without it the logical plan grows
unboundedly across waves.

Scale notes (10^10 frontier):
- no driver-side collect of frontier/result data — the driver holds
  only counters read from tiny aggregates;
- global ranks via operators.rank (two-phase above 200k rows);
- per-host politeness via salted two-phase top-K (operators.frontier);
- the known-set anti-join is pre-filtered by the partitioned Bloom
  state (bloom.py);
- the corpus join shuffles only the frontier side when pages are
  bucketed (bucketize_pages) — at design scale the pages table is an
  Iceberg table bucket-partitioned by url hash.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from concurrent import futures
from concurrent.futures import ThreadPoolExecutor
from contextlib import AbstractContextManager
from dataclasses import asdict, dataclass, field, fields
from urllib.parse import unquote, urlparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from supacrawler_spark import urlkit as U
from supacrawler_spark.bloom import BloomState
from supacrawler_spark.cuckoo import CuckooState
from supacrawler_spark.functions import match_patterns_udf, robots_allowed_udf
from supacrawler_spark.operators.fetch import (
    expand_candidates,
    fetch_join,
    fetch_join_split,
    make_extractor,
    miss_results,
    transport_fetch,
)
from supacrawler_spark.operators.frontier import (
    order_exprs,
    politeness_select,
    sql_string,
)
from supacrawler_spark.operators.rank import ordered_row_number
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.schemas import (
    FRONTIER_DISK_SCHEMA,
    FRONTIER_SCHEMA,
    LINEAGE_SCHEMA,
    RESULT_SCHEMA,
)
from supacrawler_spark.plans.state import (
    KNOWN_BUCKETS,
    KNOWN_COMPACT_EVERY,
    ParquetStateBackend,
    StateBackend,
)
from supacrawler_spark.session import arrow_df, bounded_head
from supacrawler_spark.sources import prepare_pages

BLOOM_THRESHOLD = 100_000

# Bucketed known-state table: above this many discovered URLs the
# cumulative known set moves from per-wave frontier-file rescans into
# a parquet table bucketed on the anti-join key, so the exact
# anti-join stops re-shuffling the known side every wave (the scan is
# bucket-aligned: candidates exchange into the table's partitioning;
# the known side never exchanges). The Iceberg bucket-partitioned
# state table stand-in at 10^10 design scale. Same auto threshold as
# bloom; KNOWN_BUCKETS (plans/state.py) bounds per-task state at any
# total size.
KNOWN_TABLE_THRESHOLD = BLOOM_THRESHOLD

# Broadcast the frontier side of the fetch join only while the
# politeness-capped SCHEDULED wave (not the frontier!) is provably
# under this many slim rows (~160 B/row -> ~64 MB, inside a sane
# driver/broadcast budget). Beyond it: SHUFFLE_HASH. Module-level so
# tests can force the shuffle path (test_crawl_engine).
SMALL_WAVE_ROWS = 400_000

# Broadcast the corpus's url-only projection for the fetch join's miss
# anti-join while the corpus parquet is provably small (driver-known
# bytes). Url rows are ~1/30 of page bytes, so 1 GiB of corpus parquet
# is ≲40 MB of broadcast — inside the session's 64 MB auto threshold.
# Above it (any real deployment) the miss path keeps the wave-broadcast
# semi join, which never materializes anything corpus-sized.
CORPUS_URLS_BROADCAST_BYTES = 1 << 30

RESULT_COLS_USER = [
    "url", "iter", "depth", "crawl_ord", "seed_rank", "seed_host",
    "status_code", "success", "error", "title", "markdown", "text",
    "links", "discovered", "metadata", "html",
]


@dataclass
class CrawlRun:
    spark: SparkSession
    state_dir: str
    run_id: str
    stats: dict = field(default_factory=dict)
    manifest: list = field(default_factory=list)
    link_limit: int = 0
    backend: "StateBackend | None" = None

    def _results_all(self) -> DataFrame:
        df = (self.backend.read_all("results", RESULT_SCHEMA)
              if self.manifest else None)
        if df is None:
            # zero committed waves (e.g. politeness starved wave 0)
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        return df

    @property
    def results(self) -> DataFrame:
        """Successful pages, crawl-ordered, truncated to link_limit
        (HandleCrawlTask truncation, determinized by crawl_ord)."""
        r = (self._results_all().filter("success")
             .select(*RESULT_COLS_USER).orderBy("crawl_ord"))
        if self.link_limit > 0:
            r = r.limit(self.link_limit)
        return r

    @property
    def errors(self) -> DataFrame:
        return (self._results_all().filter(F.col("error").isNotNull())
                .select("url", "error", "status_code", "crawl_ord")
                .orderBy("crawl_ord"))

    @property
    def trace(self) -> DataFrame:
        return (self._results_all()
                .select("crawl_ord", "iter", "depth", "url", "status_code")
                .orderBy("crawl_ord"))

    @property
    def seen(self) -> DataFrame:
        """Every scheduled URL (the processed map,
        crawl/service.go:522-544) — a projection of results."""
        return self._results_all().select("url", "crawl_ord", "iter")

    @property
    def lineage(self) -> DataFrame:
        df = self.backend.read_all("lineage", LINEAGE_SCHEMA)
        if df is None:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return df


def bucketize_pages(spark, pages_df: DataFrame, table: str = "pages_bucketed",
                    n_buckets: int = 32) -> DataFrame:
    """Persist the corpus as a bucketed table on url_canon. Every wave's
    fetch join then shuffles ONLY the frontier side (the Iceberg
    bucket-partitioning stand-in)."""
    prep = prepare_pages(pages_df)
    (prep.write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, "url_canon").sortBy("url_canon")
     .saveAsTable(table))
    return spark.table(table)


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _schedulable_frontier(raw: DataFrame, seedset: "_SeedSet") -> DataFrame:
    """Schedulable frontier view of a committed frontier wave: the
    is_new seed-pointing rows are known-set-only entries, never
    scheduled. (Crash-window hygiene — pruning wave tables written
    after the last committed manifest line — lives on the state
    backend: StateBackend.prune_uncommitted.)"""
    return (seedset.flag(raw)
            .filter(~(F.col("is_new") & F.col("_seed")))
            .select(*FRONTIER_SCHEMA.fieldNames()))


def _committed(path: str) -> bool:
    """A set-up write at ``path`` finished: Spark's job commit writes
    ``_SUCCESS`` last, so a crash mid-write leaves the directory (a
    ``_temporary/`` tree, maybe some part files) without it. Resume
    reuses a set-up file only through this test and redoes the rest."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


# A seed list at or below this count stays a driver-side literal (zero
# extra per-wave jobs: the membership test is an IN-list Catalyst can
# constant-fold). Above it — or when the caller passes a DataFrame —
# the seed dim is written to parquet and every membership test is a
# broadcast join, so neither the driver nor the plan grows with seed
# count (the north rule's input is a Common-Crawl-style seed LIST).
SEED_DIM_THRESHOLD = 1024

_SEED_DIM_SCHEMA = "url string, host string, url_hash long, seed_rank int"


class _SeedSet:
    """The crawl's seeds as ONE canonical dim (url, host, url_hash,
    seed_rank), a row per canonical url; the wave-0 frontier is a
    projection of it (``frontier``) and ``n`` its row count.

    - A list is canonicalized and deduplicated once on the driver (it
      already holds every seed) into an Arrow-backed local frame: no
      Python-worker scan, no Spark job.
    - A DataFrame is canonicalized by the vectorized ``canon_info``
      kernel (the driver never touches its rows).

    Literal mode (a list of at most SEED_DIM_THRESHOLD seeds): the dim
    stays local and seed membership is an IN-list over ``urls`` — zero
    jobs to set up, none per wave. Dim mode (anything else): the dim
    is written once, as ``state_dir/seeds_dim`` (resume reuses it only
    if that write committed), and membership is a broadcast left join
    on its url column, unique by construction, so it never fans out a
    joined row.

    Duplicate seeds (same canonical url) collapse to the minimum
    seed_rank in BOTH modes — a url is crawled at most once (the
    processed-map invariant); the oracle mirrors this.

    The mapper's `links` set never contains seeds (mapper/
    service.go:39, 146-152): a discovered link equal to a seed IS
    emitted and consumes discovery budget, so seeds are excluded from
    the anti-join set and instead dropped from the next frontier
    post-cap (the crawler's processed map rejects them,
    crawl/service.go:525-527) — via ``flag``.
    """

    def __init__(self, spark, seeds, state_dir: str, resume: bool):
        self.urls: "list[str] | None" = None
        self.n: "int | None" = None
        is_df = isinstance(seeds, DataFrame)
        if is_df:
            from supacrawler_spark.functions import canon_info
            c = seeds.select(canon_info("url").alias("c"), "seed_rank")
            # host/url_hash are functions of url: min() is exact
            dim = c.groupBy(F.col("c.url_canon").alias("url")).agg(
                F.min("c.host").alias("host"),
                F.min("c.url_hash").alias("url_hash"),
                F.min("seed_rank").cast("int").alias("seed_rank"))
        else:
            ranks: dict = {}
            for raw_url, rank in sorted(seeds, key=lambda s: s[1]):
                ranks.setdefault(U.canonical_url(raw_url), int(rank))
            self.n = len(ranks)
            dim = arrow_df(spark, {
                "url": list(ranks),
                "host": [U.extract_host(u) for u in ranks],
                "url_hash": [U.url_hash64(u) for u in ranks],
                "seed_rank": list(ranks.values())}, _SEED_DIM_SCHEMA)
            if len(seeds) <= SEED_DIM_THRESHOLD:
                self.urls, self.dim = list(ranks), dim
                return
        path = os.path.join(state_dir, "seeds_dim")
        if not (resume and _committed(path)):
            obs = Observation()
            _write(dim.observe(obs, F.count(F.lit(1)).alias("n")), path)
            self.n = obs.get["n"]
        self.dim = spark.read.schema(_SEED_DIM_SCHEMA).parquet(path)

    def frontier(self) -> DataFrame:
        return self.dim.select(
            "url", "host", "url_hash",
            F.lit(0).alias("depth"),
            F.lit(-1).cast("long").alias("parent_ord"),
            F.col("seed_rank").alias("link_pos"),
            "seed_rank",
            F.col("host").alias("seed_host"),
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("attempt"))

    def flag(self, df: DataFrame, out: str = "_seed") -> DataFrame:
        """Add a boolean seed-membership column. Literal mode: an
        IN-list predicate. Dim mode: broadcast left join on the dim's
        unique urls (flat per-row cost in seed count)."""
        if self.urls is not None:
            if self.urls:
                # one JVM-parsed IN-list: Column.isin(list) issues one
                # py4j literal call per seed and is rebuilt twice per
                # wave (~0.9 s of driver time per bench crawl at 64
                # seeds, cProfile-measured)
                cond = F.expr("url IN ("
                              + ", ".join(map(sql_string, self.urls)) + ")")
            else:
                cond = F.lit(False)
            return df.withColumn(out, cond)
        keys = self.dim.select("url", F.lit(True).alias(out))
        return (df.join(F.broadcast(keys), "url", "left")
                .withColumn(out, F.coalesce(F.col(out), F.lit(False))))


def effective_politeness(politeness_df, robots_df, wave_window_ms: int,
                         default_host_budget: int):
    """Fold per-host delays into the per-wave politeness budget
    (VERDICT r3 #3): effective delay = greatest(politeness delay_ms,
    robots Crawl-delay), and B_eff(host) = min(max_parallel,
    ceil(wave_window_ms / delay)) — the batch determinization of
    colly's per-request delay (RandomDelay <=500ms,
    mapper/service.go:93,122) and RFC-9309 Crawl-delay (robotskit).
    ceil is computed in integer arithmetic ((W + d - 1) / d,
    truncating cast) and mirrored exactly by oracle.py and the
    politeness_budget driver twin. A host with delay > window still
    gets 1 slot per wave — delays slow a host, never starve it.

    Returns the effective (host, max_parallel) dim, or None when
    neither input carries politeness state."""
    W = wave_window_ms
    delay_dim = None
    if robots_df is not None and "crawl_delay_ms" in robots_df.columns:
        delay_dim = (robots_df.filter(F.col("crawl_delay_ms").isNotNull())
                     .select("host", F.col("crawl_delay_ms").cast("int")
                             .alias("crawl_delay_ms")))
    has_pol_delay = (politeness_df is not None
                     and "delay_ms" in politeness_df.columns)
    if delay_dim is None and not has_pol_delay:
        return politeness_df
    if politeness_df is None:
        merged = delay_dim.select(
            "host", F.lit(None).cast("int").alias("max_parallel"),
            F.lit(None).cast("int").alias("delay_ms"),
            "crawl_delay_ms")
    else:
        merged = politeness_df.select(
            "host", "max_parallel",
            (F.col("delay_ms").cast("int") if has_pol_delay
             else F.lit(None).cast("int")).alias("delay_ms"))
        merged = (merged.withColumn("crawl_delay_ms",
                                    F.lit(None).cast("int"))
                  if delay_dim is None
                  else merged.join(delay_dim, "host", "full_outer"))
    eff_delay = F.greatest("delay_ms", "crawl_delay_ms")
    b0 = F.coalesce(F.col("max_parallel"), F.lit(default_host_budget))
    b_eff = F.when(
        eff_delay > 0,
        F.least(b0, ((F.lit(W) + eff_delay - 1) / eff_delay)
                .cast("int"))).otherwise(b0)
    return merged.select("host", b_eff.alias("max_parallel"))


def _politeness_arg(pol_eff, default_host_budget: int):
    """The politeness argument every wave passes to politeness_select,
    and an upper bound on any host's budget (with the frontier's
    distinct-host count it bounds the scheduled-wave size before it is
    computed: the broadcast-vs-shuffle gate). politeness_df is a
    broadcastable dim by design, so this one-time driver action is tiny
    at any scale."""
    if pol_eff is None:
        return None, default_host_budget
    # Small dims (the norm: one row per throttled host) collapse to a
    # driver dict -> literal MAP lookup in politeness_select: one
    # bounded_head gate (one job) here instead of a broadcast-build job
    # EVERY wave. Large dims keep the broadcast-join path. A null
    # max_parallel leaves its host on the default budget.
    head = bounded_head(pol_eff.select("host", "max_parallel"), 1024)
    if head is None:
        mb = pol_eff.agg(F.max("max_parallel")).first()[0]
        return pol_eff, max(default_host_budget, int(mb or 0))
    pol = {h: m for h, m in zip(*head.to_pydict().values())
           if m is not None}
    return pol, max([default_host_budget, *pol.values()])


def _corpus_bytes(pages: DataFrame) -> int:
    """Bytes of the corpus's local files; 0 when that is unknown (an
    in-memory frame, a non-local file system). ``inputFiles`` returns
    URIs, percent-encoded: ``file:///tmp/a%20b/...``."""
    uris = [urlparse(f) for f in pages.inputFiles()]
    if not all(u.scheme == "file" for u in uris):
        return 0
    return sum(os.path.getsize(unquote(u.path)) for u in uris)


class _Background:
    """Driver-side work that overlaps the crawl's own jobs (concurrent
    jobs on one SparkSession are supported). One worker runs submitted
    work in order, one piece at a time, so two known-table appends
    never write at once. ``join`` waits for all of it and re-raises the
    first error: a lost bloom add or known append would silently drop
    URLs that the exact anti-join trusts. ``close`` only waits, and
    ends the worker."""

    def __init__(self):
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._pending: list = []

    def submit(self, fn, *args) -> None:
        self._pending.append(self._pool.submit(fn, *args))

    def join(self) -> None:
        futures.wait(self._pending)
        for f in self._pending:
            f.result()
        self._pending.clear()

    def close(self) -> None:
        self._pool.shutdown()


class _Session(AbstractContextManager):
    """run_crawl's footprint on the caller's SparkSession, undone on
    exit whether the crawl returns or raises.

    - ``set_conf`` keeps each overridden conf's first value to restore.
    - ``persist`` caches a frame for the whole crawl (``wave=True``:
      for the current wave, which ``release(wave)`` ends). A frame the
      caller had already cached is used as it is and never released.
    - ``bg`` runs the crawl's background work. Exit waits for it
      first, so no job of the crawl still runs on the session it hands
      back; a raising crawl's own exception is the one that propagates
      (on the normal path the crawl has already joined and re-raised).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.bg = _Background()
        self.wave: list = []  # also the operators' cache_out list
        self._crawl: list = []
        self._conf: dict = {}

    def set_conf(self, key: str, value: str) -> None:
        if key not in self._conf:
            self._conf[key] = self.spark.conf.get(key)
        self.spark.conf.set(key, value)

    def persist(self, df: DataFrame, wave: bool = False) -> DataFrame:
        if df.storageLevel == StorageLevel.NONE:
            df = df.persist()
            (self.wave if wave else self._crawl).append(df)
        return df

    def release(self, caches: list) -> None:
        while caches:
            caches.pop().unpersist()

    def __exit__(self, *exc) -> None:
        self.bg.close()
        for k, v in self._conf.items():
            self.spark.conf.set(k, v)
        self.release(self.wave)
        self.release(self._crawl)


class _SeenSet:
    """The URL-seen decision of discovery: ``prune`` drops candidates
    already in the known set (the mapper's `links` set = every capped
    candidate ever emitted), ``add`` queues a committed wave's new
    candidates into it. The decision is an exact LEFT ANTI join; two
    physical aids engage from the known set's observed size, and
    neither changes a trace:

    - Known table: above KNOWN_TABLE_THRESHOLD discovered URLs the
      known set moves from per-wave frontier-file rescans into a parquet
      table bucketed on `url` (StateBackend.known_*), so the anti-join
      reads it bucket-aligned — candidates exchange into the table's
      partitioning, the known side NEVER re-shuffles, and per-wave cost
      stops growing with wave count. The table is derived state:
      (re)built from committed frontier waves on engage/resume
      (overwrite also discards any crash-orphaned append), appended per
      committed wave, compacted every KNOWN_COMPACT_EVERY appends.
    - Seen filter: above BLOOM_THRESHOLD known URLs the probabilistic
      pre-filter (``seen_filter``: "bloom", "cuckoo" — cuckoo.py, 2-row
      probes — or "off"; the north rule's "Bloom/cuckoo URL-seen")
      passes its negatives straight through, and only its positives
      probe the exact anti-join. Below it the anti-join alone is faster
      than the probe shuffle; at the 10^10 regime the filter prunes
      nearly all probe volume (SURVEY.md J2). The first activation
      bulk-builds from the known set, which also covers resume.

    Both aids are fed in the background (``bg``): a wave's adds only
    have to land before the next wave's ``prune``, so they overlap
    that wave's (much longer) fetch+extract job."""

    def __init__(self, backend: StateBackend, state_dir: str,
                 seen_filter: str, bg: _Background):
        families = {"bloom": BloomState, "cuckoo": CuckooState, "off": None}
        if seen_filter not in families:
            raise ValueError(f"unknown seen_filter {seen_filter!r}")
        cls = families[seen_filter]
        self.filter = None if cls is None else cls(
            os.path.join(state_dir, seen_filter))
        self.backend = backend
        self.bg = bg
        self.built = False

    def _frontier_files(self) -> "DataFrame | None":
        """Each known URL appears exactly once across the committed
        frontier files with is_new=true (deferred re-appearances are
        flagged false), so the frontier table doubles as the known
        table — one write per wave, two roles."""
        raw = self.backend.read_all("frontier", FRONTIER_DISK_SCHEMA)
        if raw is None:
            return None
        return raw.filter("is_new").select("url", "url_hash")

    def prune(self, cand: DataFrame, discovered: int) -> DataFrame:
        self.bg.join()  # every add issued so far must have landed
        be = self.backend
        if not be.known_active() and discovered > KNOWN_TABLE_THRESHOLD:
            src = self._frontier_files()
            if src is not None:
                be.known_rebuild(src)
        known = (be.known_read() if be.known_active()
                 else self._frontier_files())
        if known is None:
            return cand
        if self.filter is None or discovered <= BLOOM_THRESHOLD:
            return cand.join(known.select("url"), "url", "left_anti")
        if not self.built:
            self.filter.add(known.select("url_hash"))
            self.built = True
        flagged = self.filter.flag(cand)
        fresh = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        return fresh.unionByName(
            maybe.join(known.select("url"), "url", "left_anti"))

    def add(self, new_rows: DataFrame) -> None:
        if self.built:
            self.bg.submit(self.filter.add, new_rows.select("url_hash"))
        if self.backend.known_active():
            # a crash before the manifest line is healed by the
            # engage-time overwrite rebuild on resume
            self.bg.submit(self.backend.known_append,
                           new_rows.select("url", "url_hash"))


@dataclass
class _Cursor:
    """The crawl position a manifest line carries: fresh start, resume
    and every wave commit go through it. ``iter`` is the last committed
    wave (-1 before the first); ``scheduled`` and ``hosts_next`` are
    the last wave's width and the next frontier's distinct hosts, the
    size hints of the next wave's physical plan. Lines written before
    ``failures``, ``hosts_next`` and ``scheduled`` existed resume with
    None for them: no hints, and failed_pages falls back to a distinct
    count."""

    run_id: str
    iter: int = -1
    next_ord: int = 0
    successes: int = 0
    failures: "int | None" = 0
    discovered_cnt: int = 0
    limit_reached: bool = False
    n_frontier_next: int = 0
    hosts_next: "int | None" = None
    scheduled: "int | None" = None

    @classmethod
    def from_line(cls, line: dict) -> "_Cursor":
        return cls(**{f.name: line.get(f.name) for f in fields(cls)})

    def line(self, **wave) -> dict:
        """The manifest line committing the cursor's wave; ``wave``
        adds what only describes that wave."""
        return {**asdict(self), **wave}


@dataclass
class _Waves:
    """What every wave of one crawl reads and never changes."""

    params: CrawlParams
    sess: _Session
    backend: StateBackend
    seedset: _SeedSet
    seen: _SeenSet
    pages: DataFrame
    pages_urls: DataFrame
    broadcast_urls: bool
    pol_arg: object
    max_budget: int
    default_host_budget: int
    robots_df: "DataFrame | None"
    scrape_cache: "DataFrame | None"
    transport: object
    collect_lineage: bool
    pattern_udf: object


def _wave_step(w: _Waves, cur: _Cursor, frontier: DataFrame):
    """One BFS wave: schedule -> fetch/extract -> discover -> commit.
    Advances ``cur`` to the committed wave and returns its manifest
    line and the next wave's frontier, or (None, None) when politeness
    starved every host and nothing was committed."""
    t0 = time.time()
    spark, params, backend, sess = w.sess.spark, w.params, w.backend, w.sess
    it = cur.iter + 1
    L, ML = params.link_limit, params.discovery_cap
    n_frontier = cur.n_frontier_next

    # explicit shuffle-partition control per wave (north_rule):
    # micro-waves pay per-task scheduling latency on every one of
    # their ~10 shuffle stages — size the partition count to the
    # wave, not the cluster. The heavy extraction stage is
    # parallelized separately by an explicit repartition.
    # Floor at cores/4, not cores: the wave-loop shuffles move
    # O(wave) tiny frontier rows, and each shuffle task pays the
    # same fixed deserialize/dispatch cost as above (~0.37 s/task
    # measured on the frontier-commit stage — 83% of its task
    # time at 64 partitions). Extraction parallelism is ruled by
    # the corpus-scan splits and the explicit repartition of
    # `scheduled`, not by this; large frontiers still scale via
    # the rows term (10^7 frontier rows -> 3333 partitions).
    cores = spark.sparkContext.defaultParallelism
    wave_shuffle = min(max(1, cores // 4, n_frontier // 3000), 4 * cores)
    sess.set_conf("spark.sql.shuffle.partitions", str(wave_shuffle))

    # Driver-known bound on this wave's SCHEDULED row count, before
    # anything is computed: <= n_frontier, <= remaining link
    # budget, and <= distinct frontier hosts (prev wave's fused
    # aggregate) x max host budget. Decides the fetch-join physical
    # strategy and (tightened by the prev wave's actual width, a
    # sound predictor because BFS discovery fans out <= ~10
    # links/page) which global-rank path to take — gating on
    # n_frontier alone would broadcast a huge scheduled frame when
    # hosts are many (driver OOM), shuffle needlessly when a huge
    # frontier collapses to a tiny polite wave, and pay the
    # two-phase rank's extra exchanges + broadcast-build job on
    # every steady-state micro-wave.
    sched_bound = n_frontier
    if L > 0:
        sched_bound = min(sched_bound, max(L - cur.successes, 0))
    if cur.hosts_next:
        # +10% for approx_count_distinct error, +16 slack
        sched_bound = min(sched_bound,
                          int(cur.hosts_next * 1.1 + 16) * w.max_budget)
    rank_hint = sched_bound
    if cur.scheduled is not None:
        # x4 covers every observed inter-wave growth ratio; an
        # underestimate only means a single-partition sort of a
        # <=4x-larger-than-hinted wave (slower, never wrong)
        rank_hint = min(rank_hint, max(cur.scheduled * 4, 4096))

    # 1. politeness selection (salted two-phase per-host top-B
    # above the salt threshold; plain per-host window below),
    # cached across the wave's two commits
    selected, deferred, rank_cache = politeness_select(
        frontier, w.pol_arg, w.default_host_budget,
        hint_count=n_frontier, persist=True)
    if rank_cache is not None:
        sess.wave.append(rank_cache)

    # 2. global rank in crawl order K; budget cut; crawl_ord
    selected = ordered_row_number(
        selected, order_exprs(), "_grank", hint_count=rank_hint,
        cache_out=sess.wave)
    if L > 0:
        rem = L - cur.successes
        overflow = selected.filter(F.col("_grank") > rem).drop("_grank")
        deferred = deferred.unionByName(overflow)
        selected = selected.filter(F.col("_grank") <= rem)
    scheduled = (selected
                 .withColumn("crawl_ord",
                             (F.lit(cur.next_ord) + F.col("_grank") - 1))
                 .drop("_grank")
                 .withColumn("iter", F.lit(it)))

    # 3. per-row flags: seed pattern gate + robots page gate
    scheduled = scheduled.withColumn(
        "pattern_ok",
        F.when(F.col("parent_ord") == -1, w.pattern_udf(F.col("url")))
        .otherwise(F.lit(True)))
    if w.robots_df is not None:
        rules = w.robots_df.select(
            "host", "allow_prefixes", "disallow_prefixes")
        scheduled = scheduled.join(F.broadcast(rules), "host", "left")
        scheduled = scheduled.withColumn(
            "robots_ok",
            robots_allowed_udf(F.col("url"), F.col("disallow_prefixes"),
                               F.col("allow_prefixes"))
        ).drop("allow_prefixes", "disallow_prefixes")
    else:
        scheduled = scheduled.withColumn("robots_ok", F.lit(True))

    # 4. fetch (corpus join) + extraction, committed to state.
    # The global-rank window leaves `scheduled` in ONE partition —
    # repartition first or extraction runs on a single core.
    # `scheduled` appears 3x in the fetch-join plan (hits broadcast,
    # miss probe, hit-url broadcast): persist it so the politeness/
    # rank window chain materializes once per wave, not per
    # occurrence.
    scheduled = sess.persist(
        scheduled.repartition(max(8, cores), "url"), wave=True)

    # J3 scrape cache: only successful prior rows are cached
    # (ScrapeWithCache caches after isValidResult,
    # scrape/service.go:46-48); pattern-skipped seeds never reach
    # the cache path (streamCrawl checks the pattern first, 470).
    cache_hits = None
    if w.scrape_cache is not None and not params.fresh:
        cacheable = scheduled.filter(F.col("pattern_ok")).select(
            "url", "iter", "depth", "crawl_ord", "seed_rank", "seed_host",
            "host", "url_hash", "parent_ord", "link_pos", "attempt")
        cache_hits = (
            w.scrape_cache.filter("success")
            .select("url", "status_code", "title", "markdown", "text",
                    "links", "discovery", "discovered", "metadata", "html")
            .join(F.broadcast(cacheable), "url", "inner")
            .withColumn("success", F.lit(True))
            .withColumn("error", F.lit(None).cast("string"))
            .select(*RESULT_SCHEMA.fieldNames()))
        scheduled = scheduled.join(
            F.broadcast(cache_hits.select("url")), "url", "left_anti")

    # broadcast-semi strategy while the politeness-capped SCHEDULED
    # wave is broadcast-sized (sched_bound, computed above);
    # shuffle-hash beyond (never sorts the corpus). With an
    # injected transport the corpus join is bypassed entirely (the
    # live-path seam).
    extractor = make_extractor(params.include_html, params.fresh)
    if w.transport is not None:
        fetched = transport_fetch(scheduled, w.transport)
        results = fetched.mapInPandas(extractor, RESULT_SCHEMA)
    elif sched_bound <= SMALL_WAVE_ROWS:
        # r6: misses never cross the Python boundary — their
        # result rows are pure codegen expressions of the
        # scheduled row (miss_results == the extractor's
        # html-is-None branch, equality-tested), so the
        # extraction UDF runs on hit rows only.
        hits, miss = fetch_join_split(
            scheduled, w.pages, pages_urls=w.pages_urls,
            broadcast_urls=w.broadcast_urls)
        results = (hits.mapInPandas(extractor, RESULT_SCHEMA)
                   .unionByName(miss_results(miss, params.fresh)))
    else:
        fetched = fetch_join(scheduled, w.pages)
        results = fetched.mapInPandas(extractor, RESULT_SCHEMA)
    if cache_hits is not None:
        results = results.unionByName(cache_hits)
    t_fetch = time.time()
    # per-wave aggregates ride the write actions as observed
    # metrics — zero standalone aggregation jobs per wave (every
    # saved action is ~0.5-1s of fixed, non-scaling driver latency)
    obs_res = Observation(f"res_{cur.run_id}_{it}")
    results = results.observe(
        obs_res, F.count(F.lit(1)).alias("sched"),
        F.sum(F.col("success").cast("long")).alias("succ"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("fail"))
    backend.write_wave("results", it, results)
    res_m = obs_res.get
    # manifest phase timings: disjoint, consecutive intervals
    t_disc = time.time()
    stage_ms = {"fetch_extract": int((t_disc - t_fetch) * 1000)}
    res_df = backend.read_wave("results", it, RESULT_SCHEMA)

    if w.collect_lineage:
        lin = (res_df
               .groupBy(F.spark_partition_id().alias("partition_id"))
               .agg(F.count("*").alias("rows"))
               .select(F.lit(cur.run_id).alias("run_id"),
                       F.lit(it).alias("iter"),
                       F.lit("extract").alias("stage"),
                       "partition_id", "rows"))
        backend.write_wave("lineage", it, lin)

    # 5. discovery: emission filters -> known-dedup -> cap, fused
    # with the frontier commit: ONE write (deferred is_new=false ∪
    # new candidates is_new=true) + ONE count job per wave.
    if not cur.limit_reached:
        cand = expand_candidates(
            res_df, params.include_subdomains, params.patterns,
            w.robots_df, max_depth=params.max_depth)
        cand = w.seen.prune(cand, cur.discovered_cnt)
        # intra-wave first-seen dedup (J5): min discovery order
        # wins. Expressed as min(struct) — NOT a row_number window
        # — because struct-min has a map-side partial aggregate:
        # each task collapses its local duplicates before the
        # exchange, so the shuffle carries ~distinct-url volume
        # instead of every discovered link (a window must shuffle
        # all rows first). (parent_ord, link_pos) is unique per
        # candidate row and leads the struct, so lexicographic
        # struct ordering == the discovery order and the result is
        # deterministic and identical to the row_number form.
        other = [c for c in cand.columns
                 if c not in ("url", "parent_ord", "link_pos")]
        cand = (cand.groupBy("url")
                .agg(F.min(F.struct("parent_ord", "link_pos",
                                    *other)).alias("_first"))
                .select("url", "_first.*"))
        # discovery cap (mapper limitReached)
        if ML is not None:
            avail = ML - cur.discovered_cnt
            cand = ordered_row_number(
                cand, ["parent_ord", "link_pos"], "_dord",
                cache_out=sess.wave)
            cand = cand.filter(F.col("_dord") <= avail).drop("_dord")
        new_cand = cand.select(*FRONTIER_SCHEMA.fieldNames())
    else:
        new_cand = spark.createDataFrame([], FRONTIER_SCHEMA)

    # 6. frontier commit. Seed-pointing candidates stay in the
    # file with is_new=true (they consumed discovery budget and
    # must stay in `known`) but are never scheduled — the read
    # filter drops them (the crawler's processed map,
    # crawl/service.go:525-527).
    next_frontier = (
        deferred.select(*FRONTIER_SCHEMA.fieldNames())
        .withColumn("is_new", F.lit(False))
        .unionByName(new_cand.withColumn("is_new", F.lit(True))))
    if params.retry_failures:
        # F9 retry: a failed fetch releases its budget slot and the URL
        # re-enters the frontier (delete(processed,u) + releaseSlot,
        # crawl/service.go:564-571) up to max_retries total attempts
        # (TASK_MAX_RETRIES, config.go:90). Retry rows keep their
        # original crawl-order key (depth, parent_ord, link_pos) and
        # bypass the known-set anti-join (is_new=false: the processed
        # map and the mapper's discovery dedup are separate states).
        next_frontier = next_frontier.unionByName(res_df.filter(
            F.col("error").isNotNull()
            & (F.col("attempt") < params.max_retries - 1))
            .select("url", "host", "url_hash", "depth", "parent_ord",
                    "link_pos", "seed_rank", "seed_host",
                    F.lit(0.0).alias("priority"),
                    (F.col("attempt") + 1).alias("attempt"),
                    F.lit(False).alias("is_new")))
    next_frontier = w.seedset.flag(next_frontier)
    sched_cond = ~(F.col("is_new") & F.col("_seed"))
    obs_fr = Observation(f"fr_{cur.run_id}_{it}")
    next_frontier = next_frontier.observe(
        obs_fr,
        F.sum(F.col("is_new").cast("long")).alias("new"),
        F.sum(sched_cond.cast("long")).alias("sched"),
        F.approx_count_distinct(
            F.when(sched_cond, F.col("host"))).alias("hosts")
    ).drop("_seed")
    t_fr = time.time()
    stage_ms["discovery"] = int((t_fr - t_disc) * 1000)
    backend.write_wave("frontier", it, next_frontier)
    fr_m = obs_fr.get
    t_agg = time.time()
    stage_ms["frontier"] = int((t_agg - t_fr) * 1000)
    raw = backend.read_wave("frontier", it, FRONTIER_DISK_SCHEMA)
    wave_sched = int(res_m["sched"] or 0)
    wave_succ = int(res_m["succ"] or 0)
    n_new = int(fr_m["new"] or 0)
    sess.release(sess.wave)
    if wave_sched == 0:
        # a zero-budget politeness table starved every remaining
        # host: nothing is ever schedulable again. Match the
        # oracle's empty-selection exit — the empty wave is not
        # committed (no manifest line, files pruned), instead of
        # looping to max_waves at fixed driver cost per iteration.
        backend.prune_uncommitted(it - 1)
        return None, None
    frontier = _schedulable_frontier(raw, w.seedset)
    if not cur.limit_reached:
        if n_new:
            w.seen.add(raw.filter("is_new"))
        if ML is not None and cur.discovered_cnt + n_new >= ML:
            cur.limit_reached = True
        cur.discovered_cnt += n_new
    stage_ms["agg"] = int((time.time() - t_agg) * 1000)

    # 7. commit the wave
    cur.iter = it
    cur.scheduled = wave_sched
    cur.successes += wave_succ
    cur.next_ord += wave_sched
    if cur.failures is not None:
        cur.failures += int(res_m["fail"] or 0)
    cur.n_frontier_next = int(fr_m["sched"] or 0)
    cur.hosts_next = int(fr_m["hosts"] or 0)
    line = cur.line(wave_successes=wave_succ, retry=params.retry_failures,
                    wall_ms=int((time.time() - t0) * 1000),
                    stage_ms=stage_ms)
    backend.append_manifest(line, truncate=(it == 0))
    return line, frontier


def run_crawl(
    spark: SparkSession,
    pages_df: DataFrame,
    seeds,
    params: "CrawlParams | None" = None,
    *,
    politeness_df: "DataFrame | None" = None,
    robots_df: "DataFrame | None" = None,
    state_dir: "str | None" = None,
    resume: bool = False,
    seen_filter: str = "bloom",
    collect_lineage: bool = True,
    default_host_budget: int = 10,
    pages_prepared: bool = False,
    cache_pages: bool = True,
    scrape_cache: "DataFrame | None" = None,
    transport=None,
    state_backend: "StateBackend | None" = None,
) -> CrawlRun:
    """Run a crawl over the corpus. See module docstring and oracle.py
    for the exact semantics contract.

    ``seeds``: list of (url, seed_rank) OR a DataFrame with columns
    (url, seed_rank) — the scale path for Common-Crawl-style seed
    lists (the driver never materializes its rows). Either becomes one
    canonical seed dim (see _SeedSet).

    ``state_dir`` holds, besides the state backend's wave tables and
    manifest, the set-up files: ``pages`` (the prepared corpus, unless
    ``pages_prepared``) and ``seeds_dim`` (dim-mode seeds). ``resume``
    reuses each only if its write committed (``_SUCCESS``) and redoes
    it otherwise.

    ``pages_prepared``: pass True when pages_df already has url_canon
    (e.g. from bucketize_pages).

    ``cache_pages``: keep the prepared corpus cached for the crawl (a
    frame the caller already cached stays the caller's: the crawl
    neither re-persists nor releases it).

    ``scrape_cache``: a prior run's successful result rows (J3, the
    Redis scrape cache, scrape/service.go:583-614): cache-hit URLs
    skip both the corpus join and the extraction UDF and reuse the
    stored content/discovery. ``params.fresh=True`` bypasses it
    (scrape/service.go:64-69). Extraction is a pure function of the
    html, so cached and fresh runs are bit-identical (tested).

    ``seen_filter``: "bloom" (default) | "cuckoo" | "off" — which
    URL-seen pre-filter prunes the exact anti-join (north_rule:
    "Bloom/cuckoo URL-seen"). A pure physical-plan choice: the exact
    anti-join re-checks every positive, so traces are identical across
    all three (tested; see _SeenSet).

    Every other physical path is picked from observed sizes, and each
    module threshold is the only selector of its path: the seeds dim
    above SEED_DIM_THRESHOLD seeds (or for DataFrame input), the seen
    filter above BLOOM_THRESHOLD and the bucketed known-state table
    above KNOWN_TABLE_THRESHOLD discovered URLs, the shuffle-hash
    fetch join above SMALL_WAVE_ROWS scheduled rows. None of them
    changes the trace; tests force a path by setting its threshold.

    ``transport``: an injected live-fetch seam
    (transport.FetchTransport). When set, the wave's fetch runs
    through ``transport_fetch`` (attempt-driven S3 retry ladder +
    header profiles resolved per row) instead of the corpus join; a
    transport serving the corpus is crawl-identical to the join
    (tests/test_transport.py).

    ``state_backend``: the state-table layer (plans/state.py — the
    Iceberg seam). None (default) uses ParquetStateBackend (per-wave
    parquet dirs + JSONL manifest under ``state_dir``, the historical
    layout); CatalogStateBackend routes the same commit protocol
    through Spark SQL catalog tables (the shape a real Iceberg
    adapter takes). Trace equivalence across backends is pinned by
    tests/test_state_backends.py.
    """
    params = params or CrawlParams()
    t_init = time.time()
    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="supacrawler_state_")
    os.makedirs(state_dir, exist_ok=True)
    backend = state_backend or ParquetStateBackend(
        spark, state_dir, known_buckets=KNOWN_BUCKETS,
        known_compact_every=KNOWN_COMPACT_EVERY)
    if not resume and backend.has_state():
        # a fresh run over a used state dir: clear it NOW, before the
        # corpus/seeds materialize into it (clearing later would delete
        # files this run just wrote and already handed to lazy readers)
        backend.reset()
        shutil.rmtree(state_dir)
        os.makedirs(state_dir)

    if pages_prepared:
        # caller already has a canonical-keyed (possibly bucketed) table
        pages = pages_df
    else:
        # materialize the prepared corpus ONCE: every wave's fetch join
        # then scans parquet instead of re-running the upstream lineage
        # (at design scale the corpus is already an Iceberg table and
        # this step does not exist — pass pages_prepared=True)
        pages_path = os.path.join(state_dir, "pages")
        if not (resume and _committed(pages_path)):
            _write(prepare_pages(pages_df), pages_path)
        pages = spark.read.parquet(pages_path)
    with _Session(spark) as sess:
        corpus_bytes = _corpus_bytes(pages)
        if corpus_bytes:
            # The scan split size is Spark's own: min(maxPartitionBytes,
            # (bytes + files x openCost) / parallelism), which spreads
            # the corpus over every core and charges each file its open
            # cost. A bytes/cores override left that charge out: on the
            # 16-file, 12 MB-per-file benchmark corpus at 4 cores it
            # fitted 3 files per split (6 scan tasks, two rounds of
            # 3-file tasks); Spark's sizing gives 3,4,4,4,1 files.
            # The open cost stays lowered from 4 MB to 512 KB because it
            # is charged per file when packing: once the 128 MB cap
            # binds, at 4 MB a corpus of many small files is split by
            # its file count rather than its bytes, into more tasks that
            # each pay the stage's fixed per-task cost. It is set before
            # the corpus's first action: a persisted corpus keeps the
            # partitioning of its first scan.
            sess.set_conf("spark.sql.files.openCostInBytes", str(512 * 1024))
        if cache_pages:
            # the fetch join scans the corpus every wave — keep it hot
            # (memory+disk). At 100-TB scale this is the executors' cache
            # of hot table partitions; disable for corpora >> cluster RAM.
            pages = sess.persist(pages)
        # Per-host delays fold into the budget BEFORE the collapse
        # (semantics + citations: effective_politeness docstring).
        pol_arg, max_budget = _politeness_arg(
            effective_politeness(politeness_df, robots_df,
                                 params.wave_window_ms, default_host_budget),
            default_host_budget)

        # ---- init / resume ------------------------------------------------
        manifest = backend.read_manifest() if resume else []
        seedset = _SeedSet(spark, seeds, state_dir, resume=bool(manifest))
        if manifest:
            cur = _Cursor.from_line(manifest[-1])
            frontier = _schedulable_frontier(
                backend.read_wave("frontier", cur.iter, FRONTIER_DISK_SCHEMA),
                seedset)
        else:
            frontier = seedset.frontier()
            cur = _Cursor(run_id=uuid.uuid4().hex[:12],
                          n_frontier_next=seedset.n)
        backend.run_id = cur.run_id  # known-table namespace (parquet backend)
        # crash-window hygiene: drop any wave tables newer than the last
        # committed manifest line (all of them on a fresh start)
        backend.prune_uncommitted(cur.iter)
        seen = _SeenSet(backend, state_dir, seen_filter, sess.bg)

        # ---- wave loop ----------------------------------------------------
        waves = _Waves(
            params=params, sess=sess, backend=backend, seedset=seedset,
            seen=seen, pages=pages,
            # url-only corpus projection for the miss path of the fetch
            # join: a few bytes/row, cached by its first wave, so the fat
            # html column is scanned once per wave
            pages_urls=sess.persist(pages.select("url_canon")),
            broadcast_urls=0 < corpus_bytes <= CORPUS_URLS_BROADCAST_BYTES,
            pol_arg=pol_arg, max_budget=max_budget,
            default_host_budget=default_host_budget, robots_df=robots_df,
            scrape_cache=scrape_cache, transport=transport,
            collect_lineage=collect_lineage,
            pattern_udf=match_patterns_udf(params.patterns))
        t_loop = time.time()
        # AQE off for the wave loop: adaptive execution materializes every
        # exchange as a query stage with a driver round-trip — pure fixed
        # latency on iterative micro-waves. The two things AQE would buy
        # are already done explicitly here: shuffle partitions are sized to
        # the wave (_wave_step) and hot-host skew is pre-salted
        # (operators/frontier.py). Restored on exit.
        sess.set_conf("spark.sql.adaptive.enabled", "false")
        L = params.link_limit
        deadline_hit = False
        while cur.n_frontier_next > 0 and cur.iter + 1 < params.max_waves:
            if L > 0 and cur.successes >= L:
                break
            if (params.max_seconds is not None
                    and time.time() - t_loop > params.max_seconds):
                # L6 wall-clock cap (crawl/service.go:323-331): stop
                # between waves; committed state stays resumable
                deadline_hit = True
                break
            line, frontier = _wave_step(waves, cur, frontier)
            if line is None:
                break
            manifest.append(line)

        t_post = time.time()
        sess.bg.join()  # bloom/known state must be durable before returning
        backend.known_close()
    run = CrawlRun(spark=spark, state_dir=state_dir, run_id=cur.run_id,
                   manifest=manifest, link_limit=L, backend=backend)
    n_res = min(cur.successes, L) if L > 0 else cur.successes
    # Failed-page count: without retries every error url is scheduled
    # exactly once, so the per-wave observed sums ARE the distinct
    # count — no post-loop scan job (it was ~1-2s of fixed, non-scaling
    # wall per run). With retry_failures a url may carry one error row
    # per attempt (one failed page, the oracle's errors dict) — so the
    # distinct-count job runs if THIS run retries or if ANY committed
    # wave was produced with retries enabled (a resume with
    # retry_failures=False over retry-era waves would otherwise count
    # one row per attempt). Resumed pre-upgrade state dirs (no
    # 'failures' in the manifest) also fall back to the scan.
    if manifest and (params.retry_failures or cur.failures is None
                     or any(ln.get("retry", False) for ln in manifest)):
        total_err = run._results_all().filter(
            F.col("error").isNotNull()
        ).select("url").distinct().count()
    else:
        total_err = cur.failures if manifest else 0
    run.stats = dict(total_pages=n_res + total_err,
                     successful_pages=n_res, failed_pages=total_err,
                     waves=len(manifest), urls_scheduled=cur.next_ord,
                     deadline_hit=deadline_hit,
                     wall_preloop_ms=int((t_loop - t_init) * 1000),
                     wall_waves_ms=int((t_post - t_loop) * 1000),
                     wall_postloop_ms=int((time.time() - t_post) * 1000))
    return run


def scrape_one(spark, pages_df: DataFrame, url: str,
               params: "CrawlParams | None" = None, **kw) -> DataFrame:
    """§3.2 scrape equivalent: a 1-row frontier through the same
    pipeline stages, one wave, success or error row included
    (ScrapeResponse shape)."""
    p = params or CrawlParams(depth=1)
    run = run_crawl(spark, pages_df, [(url, 0)],
                    CrawlParams(depth=1, include_html=p.include_html,
                                fresh=p.fresh, patterns=p.patterns,
                                max_waves=1), **kw)
    return (run._results_all()
            .select(*RESULT_COLS_USER)
            .orderBy("crawl_ord").limit(1))
