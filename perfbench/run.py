#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 12 --trace 0

Run from the repository root (or any checkout of it). The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see BENCHMARK.json and perfbench/README.md). A human-readable summary
and every individual timing go to standard error.

Inputs are generated once per checkout, for every input variant, in a
child process before the measured one starts Spark (timed apart from
``setup_s``). Set-up (timed as ``setup_s``): Spark session start plus
the workload's warm-up operations. Then the workload's operation is repeated
until ``--seconds`` have passed and the workload's minimum count of
measured operations is reached (at least two when tracing);
every operation's output, warm-ups included, is checked against the
pinned value for the seed's input variant. ``job_s`` is the median wall
time of the untraced operations. With ``--trace 1`` untraced and traced
operations alternate: per-layer numbers come from the traced ones, and
their median minus the untraced median is the tracing overhead.

All scratch state lives under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import N_VARIANTS, WORKLOADS  # noqa: E402


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def driver_memory() -> str:
    """A sixth of physical memory, 1-4 GiB: the inputs are small and the
    machine may be shared."""
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{min(4, max(1, kib // 6 // 2**20))}g"


def configure_env(work: str) -> None:
    """Process environment the Spark JVM and its Python workers inherit:
    the checkout on the workers' import path and every scratch directory
    inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too): no hsperfdata
    # files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.variant = args.seed % N_VARIANTS
        self.spark = None
        self.tracer = None
        self.rest = None

    def start_spark(self) -> None:
        from supacrawler_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))   # what nproc reports
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if self.args.trace:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        self.spark = get_spark(master=f"local[{cores}]",
                               shuffle_partitions=cores,
                               app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from perfbench.tracing import SparkRest, Tracer
            self.tracer = Tracer()
            self.rest = SparkRest(self.spark.sparkContext)

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        import signal
        import subprocess

        from pyspark import SparkContext
        from perfbench.tracing import process_tree

        if self.spark is None:
            return
        started = process_tree(os.getpid())[1:]  # JVM and Python workers
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # the workers exit once the JVM is gone, but are no longer our
        # children by then: wait on their pids
        deadline = time.monotonic() + 30
        for pid in started:
            while running(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if running(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:   # exited since the check
                    pass

    def traced_op(self, name: str, tag: str, traced: bool, root=True):
        if not traced:
            return nullcontext()
        if root:
            self.tracer.counts.clear()
            return self.tracer.operation(name, tag)
        return self.tracer.span(name)


def ensure_inputs(work: str) -> float:
    """Generate every variant's inputs in a child process (its own Spark
    session) if this checkout lacks them; returns the seconds taken."""
    import subprocess

    from perfbench.workloads import inputs_ready

    if inputs_ready(work):
        return 0.0
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"],
                   check=True, timeout=1200, stdout=sys.stderr)
    return time.perf_counter() - t


def measure(bench, wl, seconds: float, trace: bool):
    """Warm-ups, then repeat the workload's operation for ``seconds``.
    Returns (warm-ups, measured ops); each is a dict from ``wl.run`` plus
    ``traced`` and ``error``."""
    from perfbench import checks

    with open(os.path.join(os.path.dirname(__file__), "expected.json")) as f:
        expected = json.load(f)
    v = str(bench.variant)
    want = expected.get(wl.name, {}).get(v)
    want_warm = expected.get(wl.warmup_key, {}).get(v)

    def one(tag: str, traced: bool) -> dict:
        try:
            if tag.startswith("warmup"):
                op, ref = wl.warmup(tag), want_warm
            else:
                op, ref = wl.run(tag, traced), want
            err = checks.mismatch(op["summary"], ref)
        except Exception:  # one failed operation is a result, not a crash
            op, err = {"wall_s": None}, traceback.format_exc()
        op.update(traced=traced, error=err)
        log(f"{tag}: {op['wall_s'] and round(op['wall_s'], 3)} s"
            f"{' traced' if traced else ''}{' FAILED: ' + err if err else ''}")
        return op

    warm = [one(f"warmup{i}", False) for i in range(wl.warmups)]
    t0 = time.perf_counter()
    ops = []
    while True:
        traced = trace and len(ops) % 2 == 1
        ops.append(one(f"op{len(ops)}", traced))
        if time.perf_counter() - t0 >= seconds and \
                len(ops) >= max(wl.measured, 2 if trace else 1):
            break
    return warm, ops


def end_to_end(ops, setup_s: float, peak_rss: int) -> dict:
    plain = [o["wall_s"] for o in ops if not o["traced"] and not o["error"]]
    return {
        "job_s": {"value": statistics.median(plain), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }


def log_summary(workload: str, ops, metrics: dict, fail_ratio) -> None:
    """The end-to-end numbers under the names the crawl and suite
    workloads give them, on standard error."""
    job = metrics["job_s"]["value"]
    if workload == "corpus_ops":
        out = [("suite_s", job, "s")]
    else:
        urls = next(o for o in ops if not o["error"])["summary"][
            "urls_scheduled"]
        out = [("crawl_s", job, "s"), ("urls_per_s", urls / job, "urls/s")]
    out += [("setup_s", metrics["setup_s"]["value"], "s"),
            ("op_fail_ratio", fail_ratio, "ratio"),
            ("peak_rss_mb", metrics["peak_rss_mb"]["value"], "MB")]
    log(" ".join(f"{k}={v:.4g} {u}" for k, v, u in out))


def per_layer(ops, probes: dict, fail_ratio: float) -> dict:
    from perfbench.layers import LAYER_METRICS

    traced = [o for o in ops if o["traced"] and not o["error"]]
    plain = [o["wall_s"] for o in ops if not o["traced"] and not o["error"]]
    vals = {k: 0.0 for k in LAYER_METRICS}
    for k in vals:
        got = [o["layers"][k] for o in traced if k in o["layers"]]
        if got:
            vals[k] = statistics.median(got)
    vals.update(probes)
    vals["op_fail_ratio"] = fail_ratio
    if traced and plain:
        vals["trace.overhead_s"] = (
            statistics.median(o["wall_s"] for o in traced)
            - statistics.median(plain))
    return {k: {"value": v, "unit": LAYER_METRICS[k][0]}
            for k, v in vals.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only generate every variant's inputs")
    args = ap.parse_args(argv)
    if not (args.workload or args.prepare):
        ap.error("--workload is required")

    work = os.path.join(ROOT, ".perfbench_work")
    configure_env(work)
    from perfbench.tracing import RssSampler
    from perfbench import workloads as W

    bench = Bench(args, work)
    if args.prepare:
        bench.start_spark()
        try:
            W.prepare_inputs(bench.spark, work)
        finally:
            bench.stop_spark()
        return 0
    gen_s = ensure_inputs(work)
    # The Spark-free extraction kernel before and after the workload, as
    # context for the machine's state; it never drops or replaces a run.
    kernel = [W.kernel_pages_per_s(args.seed)]
    probes = {}
    if args.trace:
        probes["urlkit.urls_per_s"] = W.urlkit_urls_per_s(args.seed)
    with RssSampler() as rss:
        try:
            t = time.perf_counter()
            bench.start_spark()
            session_s = time.perf_counter() - t
            cls = W.SuiteWorkload if args.workload == "corpus_ops" \
                else W.CrawlWorkload
            wl = cls(args.workload, bench)
            warm, ops = measure(bench, wl, args.seconds, bool(args.trace))
            setup_s = session_s + sum(o["wall_s"] or 0.0 for o in warm)
        finally:
            bench.stop_spark()
    kernel.append(W.kernel_pages_per_s(args.seed))
    log(f"htmlkit.pages_per_s before {kernel[0]:.1f} after {kernel[1]:.1f}")
    if args.trace:
        probes["htmlkit.pages_per_s"] = statistics.median(kernel)
        bench.tracer.dump(os.path.join(
            work, f"trace-{args.workload}-{args.seed}.json"))

    everything = warm + ops
    failed = sum(1 for o in everything if o["error"])
    fail_ratio = failed / len(everything)
    log(f"inputs: variant {bench.variant}, generated in {gen_s:.2f} s "
        "(not in setup_s)")
    if args.trace:
        metrics = per_layer(ops, probes, fail_ratio)
    elif any(not o["error"] for o in ops):
        metrics = end_to_end(ops, setup_s, rss.peak_bytes)
        log_summary(args.workload, ops, metrics, fail_ratio)
    else:
        metrics = {}
    print(json.dumps({"correct": failed == 0, "attempted": len(everything),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "supacrawler_spark")):
        sys.exit("perfbench: no supacrawler_spark package next to "
                 "perfbench/; run from a checkout of the repository")
    sys.exit(main())
