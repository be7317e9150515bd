#!/usr/bin/env python
"""Headline benchmark (driver contract: one JSON line on stdout).

Env:
  SPARK_GRAFT_SF_DIR   input tables (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  BENCH_REPLICATE      pages per document (default sized to ~50k pages)
  BENCH_DEPTH          crawl depth (default 6)
  BENCH_WEIGHT         page body weight (default 2 ~= 3-9KB text)
  BENCH_SEEDS          seed count (default 64, spread across hosts)
  BENCH_BUDGET         politeness budget/host/wave (default 32768 —
                       see docstring below; set 10 for the
                       reference-parallelism politeness headline)
  BENCH_LINK_LIMIT     crawl link_limit (default 0 = unlimited; bounds
                       the budget-10 politeness run)
  BENCH_SKIP_QUERIES=1 crawl only (scaling campaigns)
  BENCH_SEEN_FILTER    URL-seen pre-filter: bloom (default) | cuckoo | off
  BENCH_DELAY_MS       per-host politeness delay (default unset): folds
                       into B_eff = ceil(wave_window_ms/delay) per host
                       — the delay-BINDING politeness config
  BENCH_PROBE_IDLE_REF idle reference for the co-tenancy kernel probe
                       (pages/s at 8 procs; default 3000)
  BENCH_RETRY=0        disable the bounded contamination retry: by
                       default, if the probes bracket the crawl leg
                       dirty, bench waits (up to BENCH_RETRY_WAIT_S,
                       default 600s, polling the probe) for the box to
                       recover and re-runs the crawl leg ONCE, adopting
                       the retry iff ITS bracket is clean (round-4
                       lesson: the committed BENCH_r04.json recorded a
                       co-tenant episode, not the engine)
  BENCH_FORCE_RETRY=1  test hook: treat the first attempt as dirty
                       regardless of probes, to exercise the retry path
  BENCH_CRAWL_RUNS     measured-crawl repetitions (default 3): the
                       headline crawl number is the MEDIAN of R
                       identically-configured back-to-back runs — this
                       box shows 5-17% co-tenant CPU steal, so a
                       single run is not evidence (round-2 lesson:
                       a 44.9s vs 47.0s round-over-round delta was
                       within single-run spread). Campaigns that do
                       their own repetition (scripts/bench_scaling.py)
                       set 1.

Headline = one full crawl over the synthetic web (the engine's primary
metric: frontier URLs/sec) + the heavy analytic operators. The bench
politeness budget is 32768/host: politeness is a *rate* (10 parallel ×
500 ms, mapper/service.go:93); a multi-second batch wave legitimately
admits budget = rate x wave-duration, and the budget mechanism itself
is exercised (it caps the hot host every wave). Scaling evidence (N vs
4N cores) is produced by scripts/bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# Documented idle reading of kernel_probe() on this box (k=8 procs,
# 12k pages; calibrated 2026-08-18 at <1% steal: 2834/3084/2734 —
# best 3084). A probe below PROBE_OK_FRAC x ref means the artifact
# was recorded inside a co-tenant episode and must be flagged, not
# trusted (VERDICT r4: BENCH_r04's 1200.4 urls/s was a contaminated
# record of a ~1489 urls/s engine).
PROBE_IDLE_REF = float(os.environ.get("BENCH_PROBE_IDLE_REF", "3000"))
PROBE_OK_FRAC = float(os.environ.get("BENCH_PROBE_OK_FRAC", "0.8"))


def kernel_probe(n: int = 12000, k: int = 8, reps: int = 2) -> float:
    """Spark-free co-tenancy probe: run the crawl's dominant parallel
    work (the pure-Python extraction kernel) over k OS processes and
    return the BEST pages/s of ``reps`` back-to-back passes (max is
    the right estimator for "what is this box capable of right now" —
    episodes only ever subtract). ~10s total; excluded from every
    timed region."""
    import multiprocessing as mp

    scripts = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from bench_kernel_scaling import _pages, work

    htmls = _pages(n)
    chunks = [htmls[i::k] for i in range(k)]
    best = 0.0
    with mp.Pool(k) as p:
        p.map(work, [c[:100] for c in chunks])  # warm imports
        for _ in range(reps):
            t = time.time()
            p.map(work, chunks)
            best = max(best, n / (time.time() - t))
    return round(best, 1)


def wait_for_idle(max_wait_s: float, poll_s: float = 45.0) -> float:
    """Poll the kernel probe until the box reads clean or the window
    expires; return the last reading. Each probe is ~10s of work, so
    the poll sleep dominates the wait."""
    deadline = time.time() + max_wait_s
    p = kernel_probe()
    while p < PROBE_OK_FRAC * PROBE_IDLE_REF and time.time() < deadline:
        time.sleep(poll_s)
        p = kernel_probe()
    return p


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from supacrawler_spark.params import CrawlParams
    from supacrawler_spark.plans import run_crawl
    from supacrawler_spark.session import get_spark
    from supacrawler_spark.sources import (
        gen_pages_df,
        gen_seeds,
        gen_politeness_df,
        prepare_pages,
    )
    from supacrawler_spark import textops, simsearch

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    depth = int(os.environ.get("BENCH_DEPTH", "6"))
    budget = int(os.environ.get("BENCH_BUDGET", "32768"))
    link_limit = int(os.environ.get("BENCH_LINK_LIMIT", "0"))
    weight = int(os.environ.get("BENCH_WEIGHT", "2"))
    n_seeds = int(os.environ.get("BENCH_SEEDS", "64"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    shuffle = int(os.environ.get("BENCH_SHUFFLE", str(cpus)))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=shuffle,
                      app_name=f"supacrawler-bench-{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    # The sandbox fixtures are single-row-group parquet (unsplittable:
    # the scan stage — where explode+partial-agg work fuses — would be
    # ONE task at any core count; measured dup_span_stats 18.6s -> 2.1s
    # at local[32]). Production inputs have many splits; see
    # session.split_small_scan.
    spark.conf.set("spark.supacrawler.smallScanRepartition", "true")

    timings: dict[str, float] = {}

    def log(*a):
        print(*a, file=sys.stderr, flush=True)

    # ---- co-tenancy probe (episode detector, not part of the metric) -------
    probe_start = kernel_probe()
    log(f"kernel probe (start): {probe_start} pages/s "
        f"(idle ref {PROBE_IDLE_REF}, ok >= "
        f"{round(PROBE_OK_FRAC * PROBE_IDLE_REF)})")
    if probe_start < PROBE_OK_FRAC * PROBE_IDLE_REF:
        log("WARNING: box is in a co-tenant episode — this artifact "
            "will be flagged contaminated; rerun on an idle box")

    # ---- corpus generation (timed separately; not part of crawl) -----------
    import duckdb
    n_docs = duckdb.sql(
        f"select count(*) from '{sf_dir}/documents.parquet'").fetchone()[0]
    replicate = int(os.environ.get(
        "BENCH_REPLICATE", str(max(1, 200_000 // max(1, n_docs)))))
    work = tempfile.mkdtemp(prefix="bench_")
    t0 = time.time()
    # corpus cache: generation is deterministic in (sf, replicate) and
    # excluded from the crawl metric — share it across runs/levels
    cache_dir = f"/tmp/supacrawler_corpus_v3_sf{sf}_r{replicate}_w{weight}"
    pages_path = os.path.join(cache_dir, "pages")
    marker = os.path.join(cache_dir, "_COMPLETE")
    if os.path.exists(marker):
        n_pages = n_docs * replicate
        log(f"reusing cached corpus {pages_path}")
    else:
        pages_raw, n_pages = gen_pages_df(spark, sf_dir,
                                          replicate=replicate,
                                          partitions=128, weight=weight)
        prepare_pages(pages_raw).write.mode("overwrite").parquet(pages_path)
        open(marker, "w").write("ok")
    pages_prep = spark.read.parquet(pages_path)
    timings["gen_pages"] = round(time.time() - t0, 2)
    log(f"corpus ready: {n_pages} pages in {timings['gen_pages']}s "
        f"(replicate={replicate})")

    # ---- headline: the crawl ------------------------------------------------
    seeds = gen_seeds(n_pages, k=n_seeds)
    # delay_ms=None: the bench budget IS the rate x wave-duration
    # determinization of (10 parallel, 500 ms delay) — carrying the raw
    # delay in the dim as well would double-count it now that
    # crawl_delay folds into B_eff (params.wave_window_ms).
    # BENCH_DELAY_MS=<n> switches to the delay-BINDING config: every
    # host gets a real per-request delay and the fold caps each wave at
    # B_eff = min(budget, ceil(wave_window_ms / delay)) per host — the
    # deferred-wave dynamics (politeness_select's deferred re-ranking
    # every wave) are then measured, not just trace-tested.
    delay_env = os.environ.get("BENCH_DELAY_MS")
    delay_ms = int(delay_env) if delay_env else None
    pol = gen_politeness_df(spark, max_parallel=budget, delay_ms=delay_ms)

    import statistics

    n_runs = int(os.environ.get("BENCH_CRAWL_RUNS", "3"))

    def crawl_leg(sess, pages, politeness, tag):
        """Warmup + N measured crawl runs on ``sess``. The warmup is a
        throwaway depth-1 crawl through the same code paths: it
        compiles the wave plans (JIT + whole-stage codegen), spins up
        the Python worker pool, and touches the corpus/parquet read
        path once. Without it, wave 0 of the measured crawl carries
        ~16-24s of one-time JVM/worker startup that is neither work
        nor per-wave overhead (the metric is steady-state URLs/sec,
        and any real deployment runs a warm long-lived session)."""
        t0 = time.time()
        warm = run_crawl(
            sess, pages, seeds[:2],
            CrawlParams(depth=1, link_limit=32),
            politeness_df=politeness, default_host_budget=budget,
            state_dir=os.path.join(work, f"warm_{tag}"),
            pages_prepared=True,
            collect_lineage=False, seen_filter="off", cache_pages=False)
        warm_sec = round(time.time() - t0, 2)
        log(f"warmup crawl [{tag}]: {warm.stats['urls_scheduled']} urls "
            f"in {warm_sec}s")
        secs = []
        r = None
        for i in range(n_runs):
            t0 = time.time()
            r = run_crawl(
                sess, pages, seeds,
                CrawlParams(depth=depth, link_limit=link_limit),
                politeness_df=politeness,
                default_host_budget=budget,  # hosts outside the table
                #                  (www/sub variants) get the same rate
                state_dir=os.path.join(work, f"state_{tag}_{i}"),
                pages_prepared=True,
                collect_lineage=False,
                # A/B the URL-seen pre-filter (bloom | cuckoo | off)
                seen_filter=os.environ.get("BENCH_SEEN_FILTER") or "bloom",
                # measured on this box: materializing the corpus into
                # the Spark block cache costs ~85s (decompress+
                # re-encode of the fat html column) while a plain warm
                # parquet scan is ~1-5s/wave — the OS page cache is
                # the right cache for a corpus this size
                cache_pages=os.environ.get("BENCH_CACHE_PAGES",
                                           "0") == "1",
            )
            sec = round(time.time() - t0, 2)
            secs.append(sec)
            log(f"crawl run {i + 1}/{n_runs} [{tag}]: "
                f"{r.stats['urls_scheduled']} urls, "
                f"{r.stats['waves']} waves, "
                f"{r.stats['successful_pages']} pages, {sec}s "
                f"-> {round(r.stats['urls_scheduled'] / sec, 1)} urls/s")
            log("  wall decomposition: "
                f"preloop={r.stats['wall_preloop_ms']}ms "
                f"waves={r.stats['wall_waves_ms']}ms "
                f"postloop={r.stats['wall_postloop_ms']}ms")
        return warm_sec, secs, r

    timings["warmup"], crawl_secs, run = crawl_leg(spark, pages_prep, pol,
                                                   "a")
    crawl_sec = round(statistics.median(crawl_secs), 2)
    timings["crawl"] = crawl_sec
    urls = run.stats["urls_scheduled"]
    urls_per_sec = round(urls / crawl_sec, 1) if crawl_sec else 0.0
    log(f"crawl median of {n_runs}: {crawl_sec}s -> {urls_per_sec} urls/s "
        f"(all runs: {crawl_secs})")

    # ---- analytic headline queries -----------------------------------------
    def bench_q(name, df_builder):
        t = time.time()
        n = len(df_builder(spark, sf_dir).collect())
        timings[name] = round(time.time() - t, 2)
        log(f"{name}: {n} rows in {timings[name]}s")

    if os.environ.get("BENCH_SKIP_QUERIES", "0") != "1":
        import __spark_entry__ as E
        bench_q("pricing_summary", E.q_pricing_summary)
        bench_q("minhash_lsh_pairs", textops.minhash_lsh_pairs)
        bench_q("simhash", textops.simhash)
        bench_q("simhash_near_dup", textops.simhash_near_dup)
        bench_q("quality_score", textops.quality_score)
        bench_q("dup_clusters", textops.dup_clusters)
        bench_q("multi_signal_clusters", textops.multi_signal_clusters)
        bench_q("dup_span_stats", textops.dup_span_stats)
        bench_q("decontam_overlap", textops.decontam_overlap)
        bench_q("cosine_topk", simsearch.cosine_topk)
        bench_q("pii_redact", textops.pii_redact)
        bench_q("paragraph_dedup", textops.paragraph_dedup)
        bench_q("pagerank_hosts", E.graph.pagerank_hosts)
        bench_q("trustrank_hosts", E.graph.trustrank_hosts)
        from supacrawler_spark.sources import warc as _warc
        bench_q("warc_roundtrip", _warc.warc_roundtrip)
        from supacrawler_spark import scrapeops as _sco
        bench_q("recrawl_schedule", _sco.recrawl_schedule)
        bench_q("stratified_sample", textops.stratified_sample)
        bench_q("bm25_topk", textops.bm25_topk)
        bench_q("embedding_quantize", simsearch.embedding_quantize)

    total = round(sum(timings.values()) - timings["gen_pages"]
                  - timings["warmup"], 2)
    # stop the session before the end probe: a live 12g-pinned JVM's
    # GC/background threads depress the probe ~10-25% and would flag
    # clean runs (measured: 2160 with the session up vs ~2900 without)
    spark.stop()
    probe_end = kernel_probe()
    log(f"kernel probe (end): {probe_end} pages/s")
    probe_min = min(probe_start, probe_end)

    # ---- bounded contamination retry (crawl leg only) -----------------------
    # The headline metric is the crawl's urls/s; if the probes bracket
    # this attempt dirty, the artifact records the co-tenant episode,
    # not the engine (exactly what happened to BENCH_r04.json). Wait
    # for the box to recover and re-run the crawl leg ONCE; adopt the
    # retry iff its own bracket is clean. At most one retry — a box
    # that never recovers keeps the original numbers, flagged.
    ok = PROBE_OK_FRAC * PROBE_IDLE_REF
    dirty = (probe_min < ok
             or os.environ.get("BENCH_FORCE_RETRY", "0") == "1")
    retry_info = None
    if dirty and os.environ.get("BENCH_RETRY", "1") != "0":
        wait_s = float(os.environ.get("BENCH_RETRY_WAIT_S", "600"))
        log("crawl bracket dirty — waiting for the box to recover "
            f"(up to {wait_s}s), then re-running the crawl leg once")
        p_start2 = wait_for_idle(wait_s)
        log(f"kernel probe (retry start): {p_start2} pages/s")
        if p_start2 >= ok:
            spark2 = get_spark(master=f"local[{cpus}]",
                               shuffle_partitions=shuffle,
                               app_name=f"supacrawler-bench-{cpus}-retry")
            spark2.sparkContext.setLogLevel("ERROR")
            spark2.conf.set("spark.supacrawler.smallScanRepartition",
                            "true")
            # pages_prep/pol were bound to the stopped session —
            # rebuild them on the fresh one (same parquet, same dim)
            pages2 = spark2.read.parquet(pages_path)
            pol2 = gen_politeness_df(spark2, max_parallel=budget,
                                     delay_ms=delay_ms)
            warm2, crawl_secs2, run2 = crawl_leg(spark2, pages2, pol2, "r")
            spark2.stop()
            p_end2 = kernel_probe()
            log(f"kernel probe (retry end): {p_end2} pages/s")
            retry_info = {
                "first_attempt": {
                    "crawl": crawl_sec,
                    "crawl_runs_sec": crawl_secs,
                    "probe_pages_per_sec": {"start": probe_start,
                                            "end": probe_end},
                },
                "retry_warmup_sec": warm2,
            }
            if min(p_start2, p_end2) >= ok:
                # clean retry bracket: adopt it as the crawl record
                total = round(total - crawl_sec
                              + statistics.median(crawl_secs2), 2)
                crawl_secs, run = crawl_secs2, run2
                crawl_sec = round(statistics.median(crawl_secs), 2)
                timings["crawl"] = crawl_sec
                urls = run.stats["urls_scheduled"]
                urls_per_sec = (round(urls / crawl_sec, 1)
                                if crawl_sec else 0.0)
                probe_start, probe_end = p_start2, p_end2
                probe_min = min(probe_start, probe_end)
                log(f"retry adopted: crawl median {crawl_sec}s -> "
                    f"{urls_per_sec} urls/s (runs: {crawl_secs})")
            else:
                retry_info["rejected_retry_runs_sec"] = crawl_secs2
                retry_info["rejected_retry_probe"] = {"start": p_start2,
                                                      "end": p_end2}
                log("retry bracket also dirty — keeping the original "
                    "attempt, flagged contaminated")
        else:
            log("box never recovered inside the wait window — keeping "
                "the original attempt, flagged contaminated")

    out = {
        "metric": "headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "pages": n_pages,
        "urls_scheduled": urls,
        "crawl_waves": run.stats["waves"],
        "urls_per_sec": urls_per_sec,
        "crawl_runs_sec": crawl_secs,
        "delay_ms": delay_ms,
        # co-tenancy evidence: the same extraction kernel, Spark-free,
        # bracketing the run. contaminated=true means the box was NOT
        # delivering its documented idle capability while this artifact
        # was recorded — read the urls/s against BENCH.md's idle
        # medians, not at face value.
        "probe_pages_per_sec": {"start": probe_start, "end": probe_end},
        "probe_idle_ref": PROBE_IDLE_REF,
        "contaminated": probe_min < PROBE_OK_FRAC * PROBE_IDLE_REF,
    }
    if retry_info is not None:
        # the crawl leg was re-run after a dirty bracket; first-attempt
        # numbers and both probe sets are preserved for the record
        out["crawl_retry"] = retry_info
    print(json.dumps(out), flush=True)

    # State-dir hygiene: each run writes ~1.3 GB of crawl state
    # (frontier files + bucketed known table) under `work`. Left in
    # place, campaign runs fill the disk — measured on 2026-08-17:
    # 59 accumulated dirs took / to 91% full and write throttling
    # degraded local[8] legs monotonically 301→318→374 s (the short
    # leg pays ~3x the relative cost of the long leg, silently
    # collapsing the scaling ratio). Keep only the per-wave manifests
    # (the decomposition data) unless BENCH_KEEP_STATE=1.
    if os.environ.get("BENCH_KEEP_STATE", "0") != "1":
        keep = os.path.join("/tmp", "bench_manifests")
        os.makedirs(keep, exist_ok=True)
        tag = os.path.basename(work)
        for root, _dirs, files in os.walk(work):
            for fn in files:
                if fn == "manifest.jsonl":
                    rel = os.path.relpath(root, work).replace(os.sep, "_")
                    shutil.copyfile(os.path.join(root, fn),
                                    os.path.join(keep, f"{tag}_{rel}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
