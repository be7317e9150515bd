"""Host link graph + integer fixed-point PageRank (graph.py).

Pins the iterative power method against an independent pure-Python
twin (same BIGINT fixed-point arithmetic) on both the deterministic
events-derived host graph and random weighted digraphs — including
dangling nodes, multi-edges collapsed by the rollup, and single-edge
graphs. Python's ``//`` on the positive operands used here equals
Spark's ``DIV`` and DuckDB's ``//``, so the twin is exact.
"""

import random
from collections import defaultdict

import pandas as pd

from supacrawler_spark import graph

SF_DIR = "/root/testdata/sf0.001"


def _py_pagerank(edge_list, iters=graph.PR_ITERS):
    """Independent twin over (src, dst, weight) triples."""
    outw = defaultdict(int)
    nodes = set()
    for s, d, w in edge_list:
        outw[s] += w
        nodes.add(s)
        nodes.add(d)
    rank = {n: graph.PR_SCALE for n in nodes}
    for _ in range(iters):
        inc = defaultdict(int)
        for s, d, w in edge_list:
            inc[d] += (rank[s] * graph.PR_DAMP_NUM * w) // (
                graph.PR_DAMP_DEN * outw[s])
        rank = {n: graph.PR_BASE + inc[n] for n in nodes}
    return rank


def test_pagerank_hosts_matches_python_twin(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    pairs = defaultdict(int)
    for uid, eid in zip(ev["user_id"], ev["event_id"]):
        s, d = f"h{uid % 32}", f"h{eid % 32}"
        if s != d:
            pairs[(s, d)] += 1
    want = _py_pagerank([(s, d, w) for (s, d), w in pairs.items()])
    got = {r["host"]: r["pagerank_fp"]
           for r in graph.pagerank_hosts(spark, SF_DIR).collect()}
    assert got == want
    # sanity: ranks moved off the uniform start and stayed positive
    assert len(set(got.values())) > 1
    assert min(got.values()) >= graph.PR_BASE


def test_pagerank_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(2, 30)
        m = rng.randint(1, 80)
        seen = {}
        for _ in range(m):
            s, d = rng.randrange(n), rng.randrange(n)
            if s != d:
                key = (f"n{s}", f"n{d}")
                seen[key] = seen.get(key, 0) + rng.randint(1, 5)
        if not seen:
            continue
        triples = [(s, d, w) for (s, d), w in seen.items()]
        edges = spark.createDataFrame(triples, "src string, dst string, "
                                               "weight long")
        got = {r["host"]: r["pagerank_fp"]
               for r in graph.pagerank(edges).collect()}
        assert got == _py_pagerank(triples), (trial, triples)


def test_host_link_edges_drops_self_loops_and_counts(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    want = defaultdict(int)
    for uid, eid in zip(ev["user_id"], ev["event_id"]):
        s, d = f"h{uid % 32}", f"h{eid % 32}"
        if s != d:
            want[(s, d)] += 1
    got = {(r["src"], r["dst"]): r["weight"]
           for r in graph.host_link_edges(spark, SF_DIR).collect()}
    assert got == dict(want)
    assert all(s != d for (s, d) in got)


def _py_trustrank(edge_list, trusted, iters=graph.PR_ITERS):
    """Independent TrustRank twin: teleport restricted to `trusted`."""
    outw = defaultdict(int)
    nodes = set()
    for s, d, w in edge_list:
        outw[s] += w
        nodes.add(s)
        nodes.add(d)
    rank = {n: graph.PR_SCALE if n in trusted else 0 for n in nodes}
    for _ in range(iters):
        inc = defaultdict(int)
        for s, d, w in edge_list:
            inc[d] += (rank[s] * graph.PR_DAMP_NUM * w) // (
                graph.PR_DAMP_DEN * outw[s])
        rank = {n: (graph.PR_BASE if n in trusted else 0) + inc[n]
                for n in nodes}
    return rank


def test_trustrank_hosts_matches_python_twin(spark):
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    pairs = defaultdict(int)
    for uid, eid in zip(ev["user_id"], ev["event_id"]):
        s, d = f"h{uid % 32}", f"h{eid % 32}"
        if s != d:
            pairs[(s, d)] += 1
    edges = [(s, d, w) for (s, d), w in pairs.items()]
    trusted = {n for n in {x for e in edges for x in e[:2]}
               if int(n[1:]) % 7 == 0}
    want = _py_trustrank(edges, trusted)
    got = {r["host"]: r["pagerank_fp"]
           for r in graph.trustrank_hosts(spark, SF_DIR).collect()}
    assert got == want
    # trust mass originates only at trusted nodes
    assert all(got[n] >= graph.PR_BASE for n in trusted)


def test_trustrank_untrusted_island_converges_to_zero(spark, monkeypatch):
    """A component with no trusted in-path (the link-farm shape) must
    end at rank 0 while the trusted component keeps mass, on both
    sides of the PR_SMALL_EDGES gate (-1 closes it)."""
    edges = spark.createDataFrame(
        # trusted island: h0 <-> h7 ; spam island: h3 <-> h5
        [("h0", "h7", 2), ("h7", "h0", 1),
         ("h3", "h5", 4), ("h5", "h3", 4)],
        "src string, dst string, weight long")
    for bound in (graph.PR_SMALL_EDGES, -1):
        with monkeypatch.context() as m:
            m.setattr(graph, "PR_SMALL_EDGES", bound)
            got = {r["host"]: r["pagerank_fp"]
                   for r in graph._power_iterate(
                       edges, graph.PR_ITERS, trusted=True).collect()}
        assert got["h3"] == 0 and got["h5"] == 0, bound
        assert got["h0"] > 0 and got["h7"] > 0, bound
    # and plain pagerank would NOT zero the spam island
    pr = {r["host"]: r["pagerank_fp"]
          for r in graph.pagerank(edges).collect()}
    assert pr["h3"] > 0 and pr["h5"] > 0
