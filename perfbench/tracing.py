"""Spans and counters collected from outside the engine.

Every hook here wraps a public entry point of one layer; no engine
source is changed:

- ``TracingBackend`` subclasses ``ParquetStateBackend`` and is passed
  through ``run_crawl(state_backend=)``. Each ``write_wave`` is the
  action that executes that wave's plan, so the ``results`` write spans
  the schedule + fetch + extract pipeline and the ``frontier`` write
  spans discovery and the frontier commit.
- ``rebind_crawl_ops`` swaps the operator names that
  ``supacrawler_spark.plans.crawl`` imported for timing wrappers
  (driver-side plan-build spans and call counts).
- ``timed_extractor`` wraps the extraction function inside the Python
  workers and appends one JSON line per Arrow batch to a per-worker
  file.
- ``SparkRest`` reads stage metrics from the driver's status REST API.

Spans live in memory (``Tracer``) and are written out when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from supacrawler_spark.plans.state import ParquetStateBackend


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: "int | None"
    trace_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans) -> float:
    """The span's duration minus the part of it its children cover.
    Children running concurrently are counted once; a child's part
    outside the parent's interval is ignored."""
    kids = [(max(c.start, span.start), min(c.end, span.end))
            for c in spans if c.parent == span.id]
    return span.duration - covered((s, e) for s, e in kids if e > s)


class Tracer:
    """Spans kept in memory. A span opened on a thread with no open span
    of its own hangs under ``root`` (the current operation's span), so
    the crawl's background append threads still nest correctly."""

    def __init__(self):
        self.spans: list = []
        self.counts: dict = {}
        self.trace_id = ""
        self.root: "int | None" = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else self.root
            sp = Span(sid, name, time.perf_counter(), 0.0, parent,
                      self.trace_id)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    @contextmanager
    def operation(self, name: str, trace_id: str):
        """Open a root span; spans from any thread nest under it."""
        self.trace_id = trace_id
        with self.span(name) as sp:
            self.root = sp.id
            try:
                yield sp
            finally:
                self.root = None

    def of(self, trace_id: str, prefix: str = "") -> list:
        return [s for s in self.spans
                if s.trace_id == trace_id and s.name.startswith(prefix)]

    def total(self, trace_id: str, prefix: str) -> float:
        return sum(s.duration for s in self.of(trace_id, prefix))

    def dump(self, path: str) -> None:
        """Write every span, with its self time, and the counters."""
        spans = [dict(asdict(s), self_s=self_time(s, self.spans))
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": self.counts}, f)


class TracingBackend(ParquetStateBackend):
    """The default parquet state backend with a span around every
    state-table call and a count of the bytes each wave write leaves."""

    def __init__(self, spark, state_dir, tracer: Tracer, **kw):
        super().__init__(spark, state_dir, **kw)
        self.tracer = tracer

    def _bytes(self, path: str) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs)

    def write_wave(self, name, it, df) -> None:
        sc = self.spark.sparkContext
        sc.setJobDescription(f"perfbench:{name}:{it}")
        try:
            with self.tracer.span(f"state.write.{name}"):
                super().write_wave(name, it, df)
        finally:
            sc.setJobDescription(None)
        self.tracer.count("state.written_bytes",
                          self._bytes(self._wave_path(name, it)))

    def read_wave(self, name, it, schema):
        with self.tracer.span("state.read"):
            return super().read_wave(name, it, schema)

    def read_all(self, name, schema):
        with self.tracer.span("state.read"):
            return super().read_all(name, schema)

    def append_manifest(self, line, truncate=False) -> None:
        with self.tracer.span("state.manifest"):
            super().append_manifest(line, truncate)

    def known_read(self):
        with self.tracer.span("state.known"):
            return super().known_read()

    def known_rebuild(self, df) -> None:
        with self.tracer.span("state.known"):
            super().known_rebuild(df)

    def known_append(self, df) -> None:
        with self.tracer.span("state.known"):
            super().known_append(df)


# Operator names that plans.crawl imported and calls per wave.
CRAWL_OPS = ("politeness_select", "ordered_row_number", "fetch_join_split",
             "fetch_join", "miss_results", "expand_candidates")
SEEN_FILTERS = ("BloomState", "CuckooState")


def _timed_call(tracer: Tracer, name: str, fn, large_above: "int | None"):
    """``large_above``: count calls whose ``hint_count`` exceeds the
    operator's scale-path threshold."""
    def call(*a, **kw):
        tracer.count(f"calls.{name}")
        if large_above is not None and (kw.get("hint_count") or 0) > \
                large_above:
            tracer.count(f"large.{name}")
        with tracer.span(f"op.{name}"):
            return fn(*a, **kw)
    return call


class _SeenProxy:
    """Forwards to a URL-seen filter, timing add/flag. A proxy rather
    than a subclass: the filter's worker closures capture the filter
    itself, which must stay picklable (the tracer holds locks)."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def add(self, *a, **kw):
        with self._tracer.span("seen.add"):
            return self._inner.add(*a, **kw)

    def flag(self, *a, **kw):
        self._tracer.count("seen.flag_calls")
        with self._tracer.span("seen.flag"):
            return self._inner.flag(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


@contextmanager
def rebind_crawl_ops(tracer: Tracer, extract_dir: str):
    """Swap plans.crawl's operator names for timing wrappers for the
    duration of the block; the originals are restored on exit."""
    from supacrawler_spark.operators.frontier import SALT_THRESHOLD
    from supacrawler_spark.operators.rank import SMALL_INPUT_THRESHOLD
    from supacrawler_spark.plans import crawl as C

    saved = {n: getattr(C, n) for n in
             CRAWL_OPS + SEEN_FILTERS + ("make_extractor",)}
    large = {"politeness_select": SALT_THRESHOLD,
             "ordered_row_number": SMALL_INPUT_THRESHOLD}
    base_make = saved["make_extractor"]

    def make_extractor(include_html, fresh):
        tracer.count("calls.make_extractor")
        return timed_extractor(base_make(include_html, fresh), extract_dir)

    def seen_factory(cls):
        return lambda *a, **kw: _SeenProxy(cls(*a, **kw), tracer)

    for n in CRAWL_OPS:
        setattr(C, n, _timed_call(tracer, n, saved[n], large.get(n)))
    for n in SEEN_FILTERS:
        setattr(C, n, seen_factory(saved[n]))
    C.make_extractor = make_extractor
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(C, n, fn)


def timed_extractor(extract, out_dir: str):
    """Wrap a mapInPandas extraction function: per Arrow batch, record
    rows, html bytes and the seconds spent inside ``extract`` (time
    waiting for the next input batch excluded) to
    ``<out_dir>/<pid>.jsonl``. Runs inside the Python workers."""

    def run(batches):
        wait = [0.0]
        last = {}

        def feed():
            it = iter(batches)
            while True:
                t = time.perf_counter()
                try:
                    pdf = next(it)
                except StopIteration:
                    return
                wait[0] += time.perf_counter() - t
                html = pdf["html"] if "html" in pdf else None
                last["rows"] = len(pdf)
                last["bytes"] = (0 if html is None else
                                 int(html.dropna().map(len).sum()))
                yield pdf

        inner = extract(feed())
        path = os.path.join(out_dir, f"{os.getpid()}.jsonl")
        with open(path, "a") as f:
            while True:
                t, w = time.perf_counter(), wait[0]
                try:
                    out = next(inner)
                except StopIteration:
                    break
                busy = time.perf_counter() - t - (wait[0] - w)
                f.write(json.dumps({"pid": os.getpid(),
                                    "rows": last.get("rows", 0),
                                    "html_bytes": last.get("bytes", 0),
                                    "busy_s": busy}) + "\n")
                yield out
    return run


def read_extract_log(out_dir: str) -> dict:
    rows = html = 0
    busy = 0.0
    for fn in os.listdir(out_dir):
        with open(os.path.join(out_dir, fn)) as f:
            for ln in f:
                r = json.loads(ln)
                rows += r["rows"]
                html += r["html_bytes"]
                busy += r["busy_s"]
    return {"rows": rows, "html_bytes": html, "busy_s": busy}


def _rest_time(stamp: str) -> float:
    """Seconds since the epoch of a REST API time, e.g.
    ``2024-01-01T00:00:01.250GMT``."""
    import datetime

    t = datetime.datetime.strptime(stamp.replace("GMT", ""),
                                   "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=datetime.timezone.utc).timestamp()


class SparkRest:
    """Completed-stage metrics from the driver's status REST API (the
    traced run starts the UI; the untraced run never does)."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen_stages: set = set()
        self.seen_jobs: set = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def mark(self) -> None:
        """Forget everything completed so far."""
        self.delta()

    def delta(self) -> dict:
        """Totals over the stages and jobs completed since the last
        call, the summed wall time of the extraction stages, and the
        task skew of the largest one."""
        time.sleep(0.3)  # let the listener bus catch up with the job end
        stages = [s for s in self._get("/stages?status=complete")
                  if (s["stageId"], s["attemptId"]) not in self.seen_stages]
        jobs = [j for j in self._get("/jobs")
                if j["jobId"] not in self.seen_jobs]
        self.seen_stages |= {(s["stageId"], s["attemptId"]) for s in stages}
        self.seen_jobs |= {j["jobId"] for j in jobs}
        out = {
            "jobs": len(jobs),
            "tasks": sum(s["numTasks"] for s in stages),
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                    for s in stages) / 2**20,
            "shuffle_read_mb": sum(s["shuffleReadBytes"]
                                   for s in stages) / 2**20,
            "extract_task_skew": 0.0,
            "extract_stage_s": 0.0,
        }
        # per wave, the results-write stage that runs the extraction UDF
        # is the one with the most task time
        by_wave: dict = {}
        for s in stages:
            desc = s.get("description") or ""
            if desc.startswith("perfbench:results:") and s["numTasks"] > 1:
                best = by_wave.get(desc)
                if best is None or s["executorRunTime"] > \
                        best["executorRunTime"]:
                    by_wave[desc] = s
        if by_wave:
            out["extract_stage_s"] = sum(
                _rest_time(s["completionTime"]) - _rest_time(s["submissionTime"])
                for s in by_wave.values())
            big = max(by_wave.values(), key=lambda s: s["executorRunTime"])
            q = self._get(f"/stages/{big['stageId']}/{big['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            out["extract_task_skew"] = q[1] / max(q[0], 1.0)
        return out


def process_tree(root: int) -> list:
    """``root`` and every live descendant of it, from /proc."""
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once across them, where summed RSS would count them
    once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for ln in f:
            if ln.startswith("Pss:"):
                return int(ln.split()[1]) * 1024
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process and all its
    descendants (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                total += _pss_bytes(pid)
            except OSError:   # exited between the scan and the read
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
