"""The benchmark's workloads, driven through the engine's public API.

Load model: a closed loop with one client. One Spark driver at
``local[<cores>]`` runs one job at a time; the next starts only when the
previous one has finished.

Inputs: a workload seed picks one of ``N_VARIANTS`` seeded input sets
(``seed % N_VARIANTS``), each passed to ``gen_pages_df(seed=)``,
``gen_seeds(seed=)`` and the analytic-table generator. Every variant's
outputs are pinned in ``expected.json`` (see ``pin.py``), so every
operation of every run is checked against a value computed by an
independent reference.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

N_VARIANTS = 4

# The synthetic web the crawl reads: n_docs documents x replicate pages
# each, page bodies at ``weight`` (8 ~= 12-34 KB of text, the
# Common-Crawl page-weight class).
CORPUS = {"n_docs": 1000, "replicate": 16, "weight": 8}

CRAWLS = {
    # Two waves of ~2k and ~5.7k URLs with no binding politeness: the
    # stage that scans the corpus, joins it to the wave and runs the
    # extraction UDF takes about three quarters of the crawl's wall
    # time (the fixed per-wave driver cost most of the rest). The warm-up crawl
    # starts from the first ``warmup_seeds`` seeds only: it runs the
    # same code at a fraction of the cost.
    "crawl_wide": {"seeds": 2048, "warmup_seeds": 256, "depth": 1,
                   "budget": 32768},
}

# The analytic operators, in the order bench.py times them.
SUITE = ("pricing_summary", "minhash_lsh_pairs", "simhash",
         "simhash_near_dup", "quality_score", "dup_clusters",
         "multi_signal_clusters", "dup_span_stats", "decontam_overlap",
         "cosine_topk", "pii_redact", "paragraph_dedup", "pagerank_hosts",
         "trustrank_hosts", "warc_roundtrip", "recrawl_schedule",
         "stratified_sample", "bm25_topk", "embedding_quantize")
# The analytic tables at a fifth of sf0.1 (1,000 documents): a serial
# pass over the 19 operators takes tens of seconds.
SUITE_SCALE = 0.2

WORKLOADS = tuple(CRAWLS) + ("corpus_ops",)


def suite_ops() -> dict:
    import __spark_entry__ as E
    from supacrawler_spark import graph, scrapeops, simsearch, textops
    from supacrawler_spark.sources import warc

    mods = (textops, simsearch, graph, scrapeops, warc)
    ops = {"pricing_summary": E.q_pricing_summary}
    for name in SUITE[1:]:
        ops[name] = next(getattr(m, name) for m in mods if hasattr(m, name))
    return ops


def tables_dir(work: str, variant: int) -> str:
    return os.path.join(work, "inputs", f"v{variant}")


def corpus_dir(work: str, variant: int) -> str:
    c = CORPUS
    return os.path.join(work, "corpus",
                        f"v{variant}_r{c['replicate']}_w{c['weight']}")


def inputs_ready(work: str) -> bool:
    return all(os.path.exists(os.path.join(d(work, v), "_COMPLETE"))
               for v in range(N_VARIANTS) for d in (tables_dir, corpus_dir))


def prepare_inputs(spark, work: str) -> None:
    """Write every variant's analytic tables and prepared pages corpus
    (the crawl corpus is generated from the variant's documents table).
    Completed directories are kept and reused."""
    from perfbench import inputs
    from supacrawler_spark.sources import gen_pages_df, prepare_pages

    c = CORPUS
    for v in range(N_VARIANTS):
        tables = inputs.write_tables(tables_dir(work, v), seed=v,
                                     scale=SUITE_SCALE)
        path = corpus_dir(work, v)
        if os.path.exists(os.path.join(path, "_COMPLETE")):
            continue
        raw, _ = gen_pages_df(spark, tables, seed=v, limit=c["n_docs"],
                              replicate=c["replicate"], partitions=16,
                              weight=c["weight"])
        prepare_pages(raw).write.mode("overwrite").parquet(
            os.path.join(path, "pages"))
        open(os.path.join(path, "_COMPLETE"), "w").close()


class CrawlWorkload:
    def __init__(self, name: str, bench):
        from supacrawler_spark.params import CrawlParams
        from supacrawler_spark.sources import gen_politeness_df, gen_seeds

        self.name, self.b = name, bench
        self.warmup_key = f"{name}.warmup"
        cfg = self.cfg = CRAWLS[name]
        spark = bench.spark
        n_pages = CORPUS["n_docs"] * CORPUS["replicate"]
        self.pages = spark.read.parquet(
            os.path.join(corpus_dir(bench.work, bench.variant), "pages"))
        self.seeds = gen_seeds(n_pages, k=cfg["seeds"], seed=bench.variant)
        self.warmup_seeds = self.seeds[:cfg["warmup_seeds"]]
        self.politeness = gen_politeness_df(
            spark, max_parallel=cfg["budget"], delay_ms=None)
        self.params = CrawlParams(depth=cfg["depth"])

    # One small warm-up crawl takes the cold start (JIT, Python worker
    # start) out of the measured one. A fixed count of measured crawls:
    # were it left to the clock, a slow first crawl would end the run
    # and a fast one would add a second, faster crawl, and the two kinds
    # of run would differ systematically.
    warmups = 1
    measured = 1

    def warmup(self, tag: str) -> dict:
        return self.run(tag, False, self.warmup_seeds)

    def run(self, tag: str, traced: bool, seeds=None) -> dict:
        """One crawl from ``seeds`` (default: the workload's); returns
        its wall time, output summary and (traced) per-layer numbers.
        The state dir is deleted afterwards, keeping only the
        manifest."""
        from supacrawler_spark.plans import crawl as C
        from supacrawler_spark.plans import run_crawl
        from perfbench import checks, tracing

        b = self.b
        state_dir = os.path.join(b.work, "state", tag)
        kw = {}
        if traced:
            extract_dir = os.path.join(b.work, "extract", tag)
            shutil.rmtree(extract_dir, ignore_errors=True)
            os.makedirs(extract_dir)
            kw["state_backend"] = tracing.TracingBackend(
                b.spark, state_dir, b.tracer, known_buckets=C.KNOWN_BUCKETS,
                known_compact_every=C.KNOWN_COMPACT_EVERY)
            b.rest.mark()
        with b.traced_op("crawl", tag, traced):
            if traced:
                with tracing.rebind_crawl_ops(b.tracer, extract_dir):
                    run, wall = self._crawl(run_crawl, seeds, state_dir, kw)
            else:
                run, wall = self._crawl(run_crawl, seeds, state_dir, kw)
        # stage metrics first: the checks below run Spark jobs of their own
        rest = b.rest.delta() if traced else None
        out = {"wall_s": wall, "summary": checks.crawl_summary(run)}
        if traced:
            out["layers"] = self._layers(run, tag, extract_dir, rest)
        keep = os.path.join(b.work, "manifests")
        os.makedirs(keep, exist_ok=True)
        shutil.copyfile(os.path.join(state_dir, "manifest.jsonl"),
                        os.path.join(keep, f"{tag}.jsonl"))
        shutil.rmtree(state_dir, ignore_errors=True)
        return out

    def _crawl(self, run_crawl, seeds, state_dir, kw):
        t = time.perf_counter()
        run = run_crawl(
            self.b.spark, self.pages, seeds or self.seeds, self.params,
            politeness_df=self.politeness,
            default_host_budget=self.cfg["budget"], state_dir=state_dir,
            pages_prepared=True, collect_lineage=False, cache_pages=False,
            **kw)
        return run, time.perf_counter() - t

    def _layers(self, run, tag: str, extract_dir: str, rest: dict) -> dict:
        from pyspark.sql import functions as F
        from perfbench import tracing

        tr = self.b.tracer
        spans = tr.of(tag)
        root = next(s for s in spans if s.name == "crawl")
        writes = [(s.start, s.end) for s in spans
                  if s.name.startswith("state.write.")]
        ex = tracing.read_extract_log(extract_dir)
        m, st = run.manifest, run.stats
        rows_in = len(self.seeds) + sum(w["n_frontier_next"] for w in m[:-1])
        sched = sum(w["scheduled"] for w in m)
        cand = run._results_all().agg(
            F.sum(F.size("discovery"))).first()[0] or 0
        new = m[-1]["discovered_cnt"] if m else 0
        c = tr.counts
        waves = [w["wall_ms"] / 1e3 for w in m]

        def tot(prefix):
            return tr.total(tag, prefix)
        return {
            "fetch.extract_busy_s": ex["busy_s"],
            "fetch.extract_rows": ex["rows"],
            "fetch.extract_html_mb": ex["html_bytes"] / 2**20,
            "fetch.extract_rows_per_busy_s":
                ex["rows"] / ex["busy_s"] if ex["busy_s"] else 0.0,
            "fetch.hit_ratio": st["successful_pages"] / st["urls_scheduled"],
            "fetch.candidates": cand,
            "fetch.new_ratio": new / cand if cand else 0.0,
            "spark.extract_task_skew": rest["extract_task_skew"],
            "spark.extract_stage_s": rest["extract_stage_s"],
            "crawl.preloop_s": st["wall_preloop_ms"] / 1e3,
            "crawl.waves": st["waves"],
            "crawl.wave0_s": waves[0],
            "crawl.wave_p50_s": statistics.median(waves),
            "crawl.driver_s": root.duration - tracing.covered(writes),
            "crawl.plan_build_s": tot("op."),
            "crawl.urls_per_s": st["urls_scheduled"] / root.duration,
            "frontier.rows_in": rows_in,
            "frontier.scheduled": sched,
            "frontier.deferral_ratio": 1 - sched / rows_in,
            "frontier.plan_s": tot("op.politeness_select"),
            "frontier.salted_waves": c.get("large.politeness_select", 0),
            "rank.plan_s": tot("op.ordered_row_number"),
            "rank.two_phase_waves": c.get("large.ordered_row_number", 0),
            "state.results_write_s": tot("state.write.results"),
            "state.frontier_write_s": tot("state.write.frontier"),
            "state.read_s": tot("state.read"),
            "state.manifest_s": tot("state.manifest"),
            "state.known_s": tot("state.known"),
            "state.written_mb": c.get("state.written_bytes", 0) / 2**20,
            "seen.engaged_waves": c.get("seen.flag_calls", 0),
            "seen.add_s": tot("seen.add"),
            **{f"spark.{k}": v for k, v in rest.items()
               if not k.startswith("extract_")},
        }


class SuiteWorkload:
    def __init__(self, name: str, bench):
        self.name, self.b = name, bench
        self.warmup_key = name
        self.tables = tables_dir(bench.work, bench.variant)
        self.ops = suite_ops()
        # bench.py's setting: heal single-split scans of small inputs
        bench.spark.conf.set("spark.supacrawler.smallScanRepartition",
                             "true")

    def _op(self, name: str) -> tuple:
        from perfbench import checks

        t = time.perf_counter()
        df = self.ops[name](self.b.spark, self.tables)
        rows = df.collect()
        return time.perf_counter() - t, checks.frame_digest(df.columns, rows)

    # A pass takes ~10 s: two measured passes, whatever ``--seconds``
    # asks, so that every run reports the median of the same count.
    warmups = 1
    measured = 2

    def warmup(self, tag: str) -> dict:
        """Every operator once, four at a time: compiles each operator's
        plans and starts the Python workers at a fraction of a serial
        pass's cost. Outputs are checked like any other pass."""
        from concurrent.futures import ThreadPoolExecutor

        t = time.perf_counter()
        with ThreadPoolExecutor(4) as pool:
            done = dict(zip(self.ops, pool.map(self._op, self.ops)))
        return {"wall_s": time.perf_counter() - t,
                "summary": {n: d for n, (_, d) in done.items()}}

    def run(self, tag: str, traced: bool) -> dict:
        """One serial pass over the 19 operators, each collected in
        full."""
        b = self.b
        if traced:
            b.rest.mark()
        times, summary = {}, {}
        with b.traced_op("suite", tag, traced):
            for name in self.ops:
                with b.traced_op(f"corpus.{name}", tag, traced, root=False):
                    times[name], summary[name] = self._op(name)
        out = {"wall_s": sum(times.values()), "summary": summary}
        if traced:
            rest = b.rest.delta()
            out["layers"] = {
                **{f"corpus.{n}_s": s for n, s in times.items()},
                **{f"spark.{k}": v for k, v in rest.items()
                   if not k.startswith("extract_")},
            }
        return out


def kernel_pages_per_s(seed: int, n: int = 120) -> float:
    """Spark-free extraction kernel (``work`` of
    scripts/bench_kernel_scaling.py), one process, over a seeded sample
    of corpus-weight pages."""
    import random

    from perfbench.inputs import VOCAB
    from scripts.bench_kernel_scaling import work
    from supacrawler_spark.sources.synth import synth_html

    rng = random.Random(seed)
    n_pages = CORPUS["n_docs"] * CORPUS["replicate"]
    htmls = [synth_html(rng.randrange(n_pages),
                        " ".join(rng.choices(VOCAB, k=rng.randint(10, 99))),
                        n_pages, seed=seed, weight=CORPUS["weight"]).encode()
             for _ in range(n)]
    t = time.perf_counter()
    work(htmls)
    return n / (time.perf_counter() - t)


def urlkit_urls_per_s(seed: int, n: int = 20000) -> float:
    """Spark-free canonicalize + hash over a seeded sample of the link
    shapes the synthetic web emits."""
    import random

    from supacrawler_spark import urlkit as U
    from supacrawler_spark.sources.synth import page_url

    rng = random.Random(seed)
    base = [page_url(rng.randrange(100_000), seed) for _ in range(n)]
    urls = [u if i % 3 else u.replace("https://", "https://WWW.") + "#frag"
            for i, u in enumerate(base)]
    t = time.perf_counter()
    for u in urls:
        U.url_hash64(U.canonical_url(u))
    return n / (time.perf_counter() - t)
