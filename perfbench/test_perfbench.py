"""Tests of the benchmark's own arithmetic and output check (no Spark).

    python3 -m pytest perfbench -q
"""

import json
import os
import threading
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import checks, inputs, workloads
from perfbench.tracing import Span, Tracer, covered, self_time

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "t")


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([(5, 6), (0, 10)]) == pytest.approx(10)


def test_self_time_subtracts_union_of_direct_children_only():
    root = _span(0, 0.0, 10.0)
    spans = [root,
             _span(1, 1.0, 3.0, 0),
             _span(2, 2.0, 5.0, 0),      # overlaps child 1: counted once
             _span(3, 8.0, 12.0, 0),     # only 8-10 lies inside the parent
             _span(4, 1.5, 2.5, 1)]      # grandchild: not the root's child
    assert self_time(root, spans) == pytest.approx(10 - 4 - 2)
    assert self_time(spans[1], spans) == pytest.approx(2 - 1)
    assert self_time(spans[4], spans) == pytest.approx(1)


def test_spans_from_other_threads_nest_under_the_operation():
    tr = Tracer()
    with tr.operation("crawl", "op1") as root:
        with tr.span("state.write.results") as w:
            pass

        def bg():
            with tr.span("state.known"):
                pass
        th = threading.Thread(target=bg)
        th.start()
        th.join(timeout=5)
        assert not th.is_alive()
    known = [s for s in tr.spans if s.name == "state.known"]
    assert w.parent == root.id
    assert known and all(s.parent == root.id for s in known)
    assert all(s.trace_id == "op1" for s in tr.spans)


def _rows():
    h = checks._sha
    return [(0, "https://a/p0", h("# a"), h("a")),
            (1, "https://a/p1", h("# b"), h("b")),
            (2, "https://a/void", h(None), h(None))]


def test_crawl_digest_is_order_sensitive_and_content_sensitive():
    base = checks.crawl_digest(_rows())
    assert checks.crawl_digest(list(reversed(_rows()))) == base
    swapped = [(1, r[1], r[2], r[3]) if r[0] == 0 else
               (0, r[1], r[2], r[3]) if r[0] == 1 else r for r in _rows()]
    assert checks.crawl_digest(swapped) != base
    edited = _rows()
    edited[1] = edited[1][:2] + (checks._sha("# B"), edited[1][3])
    assert checks.crawl_digest(edited) != base


def test_oracle_and_engine_digests_agree_on_the_same_crawl():
    orc = SimpleNamespace(
        trace=[(0, 0, 0, "https://a/p0", 200), (1, 1, 1, "https://a/p1", 200),
               (2, 1, 1, "https://a/void", 404)],
        pages={"https://a/p0": {"markdown": "# a", "text": "a"},
               "https://a/p1": {"markdown": "# b", "text": "b"}})
    assert checks.oracle_crawl_digest(orc) == checks.crawl_digest(_rows())


def test_frame_digest_ignores_row_and_column_order_not_values():
    cols = ["doc_id", "score"]
    rows = [(1, 0.5), (2, 1.0 / 3)]
    d = checks.frame_digest(cols, rows)
    assert d["rows"] == 2
    assert checks.frame_digest(["score", "doc_id"],
                               [(1.0 / 3, 2), (0.5, 1)]) == d
    # last-bit float noise from another summation order is not a change
    assert checks.frame_digest(cols, [(1, 0.5), (2, 0.3333333333333337)]) == d
    assert checks.frame_digest(cols, [(1, 0.5), (2, 0.34)]) != d
    assert checks.frame_digest(cols, rows[:1])["rows"] == 1


def test_mismatch_reports_each_perturbed_field():
    want = {"urls_scheduled": 10, "digest": "x"}
    assert checks.mismatch(dict(want, extra=1), want) is None
    err = checks.mismatch({"urls_scheduled": 11, "digest": "x"}, want)
    assert "urls_scheduled" in err and "digest" not in err
    assert checks.mismatch(want, None) == "no pinned value"


def test_every_workload_and_variant_is_pinned():
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    keys = [(name, set(checks.CRAWL_STATS) | {"digest"})
            for c in workloads.CRAWLS for name in (c, f"{c}.warmup")]
    keys.append(("corpus_ops", set(workloads.SUITE)))
    for name, fields in keys:
        for v in range(workloads.N_VARIANTS):
            assert set(expected[name][str(v)]) == fields


@pytest.mark.parametrize("variant", range(workloads.N_VARIANTS))
def test_generated_documents_match_the_fixture_figures(variant):
    n = inputs.SF01_ROWS["documents"]
    t = inputs.documents(np.random.default_rng([variant, n, 2]), n)
    got = inputs.doc_stats(t.column("text").to_pylist(),
                           t.column("lang").to_pylist())
    want = inputs.FIXTURE
    tolerance = {"tokens_mean": 1.5, "exact_dup_share": 0.004,
                 "en_share": 0.03}
    for k, w in want.items():
        assert got[k] == pytest.approx(w, abs=tolerance.get(k, 0)), k


def test_benchmark_json_lists_what_the_runs_report():
    from perfbench.layers import LAYER_METRICS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == \
        list(workloads.WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == \
        {"job_s", "setup_s", "peak_rss_mb"}
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == [(k, u, b) for k, (u, b, _) in LAYER_METRICS.items()]


class _FakeWorkload:
    """Replays pinned warm-up and measured summaries."""
    name = "crawl_wide"
    warmup_key = "crawl_wide.warmup"
    warmups = 2
    measured = 1

    def __init__(self, warm, summary):
        self.warm, self.summary = warm, summary

    def warmup(self, tag):
        return {"wall_s": 0.01, "summary": dict(self.warm)}

    def run(self, tag, traced):
        return {"wall_s": 0.01, "summary": dict(self.summary)}


def _perturb(summary, field):
    bad = dict(summary)
    bad[field] = bad[field] + 1 if isinstance(bad[field], int) \
        else "0" * len(bad[field])
    return bad


@pytest.mark.parametrize("field", ["digest", "urls_scheduled", "waves"])
def test_measure_counts_a_perturbed_result_as_failed(field):
    from perfbench import run

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    warm = expected["crawl_wide.warmup"]["0"]
    pinned = expected["crawl_wide"]["0"]
    bench = SimpleNamespace(variant=0)
    w, ops = run.measure(bench, _FakeWorkload(warm, pinned), 0.0, False)
    assert len(w) == 2 and len(ops) == 1
    assert all(o["error"] is None for o in w + ops)
    w, ops = run.measure(
        bench, _FakeWorkload(_perturb(warm, field), _perturb(pinned, field)),
        0.0, False)
    assert all(field in o["error"] for o in w + ops)
    # each is checked against its own pin, not the other's
    w, ops = run.measure(bench, _FakeWorkload(pinned, warm), 0.0, False)
    assert all(o["error"] for o in w + ops)
