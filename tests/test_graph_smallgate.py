"""The PR_SMALL_EDGES driver-side gate (graph.py) must be a pure
physical-plan choice — local and distributed paths bit-identical for
pagerank, trustrank, and HITS, on the fixture graph and on random
graphs (dangling nodes, untrusted islands, zero-score hosts). A
negative bound forces the distributed path: no gate admits it."""

import random

from pyspark.sql import functions as F

from supacrawler_spark import graph

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rand_edges(spark, seed, n_nodes=40, n_edges=120):
    rng = random.Random(seed)
    rows = set()
    while len(rows) < n_edges:
        s, d = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if s != d:
            rows.add((f"h{s}", f"h{d}"))
    return spark.createDataFrame(
        [(s, d, 1 + (hash((s, d)) % 5)) for s, d in sorted(rows)],
        "src string, dst string, weight long")


def _both_paths(monkeypatch, build, *args):
    """Rows of ``build(*args)`` through the gate, then with it closed."""
    local = _rows(build(*args))
    with monkeypatch.context() as m:
        m.setattr(graph, "PR_SMALL_EDGES", -1)
        return local, _rows(build(*args))


def test_pagerank_local_equals_distributed(spark, monkeypatch):
    local, dist = _both_paths(monkeypatch, graph._power_iterate,
                              graph.host_link_edges(spark, SF_DIR),
                              graph.PR_ITERS)
    assert local == dist


def test_trustrank_local_equals_distributed(spark, monkeypatch):
    local, dist = _both_paths(monkeypatch, graph._power_iterate,
                              graph.host_link_edges(spark, SF_DIR),
                              graph.PR_ITERS, True)
    assert local == dist


def test_pagerank_random_graphs_local_equals_distributed(spark,
                                                         monkeypatch):
    for seed in (7, 21):
        local, dist = _both_paths(monkeypatch, graph.pagerank,
                                  _rand_edges(spark, seed))
        assert local == dist


def test_hits_local_equals_distributed(spark, monkeypatch):
    for edges in (graph.host_link_edges(spark, SF_DIR),
                  _rand_edges(spark, 3)):
        local, dist = _both_paths(monkeypatch, graph.hits, edges)
        assert local == dist


def test_gate_falls_back_above_bound(spark, monkeypatch):
    monkeypatch.setattr(graph, "PR_SMALL_EDGES", 5)
    edges = _rand_edges(spark, 9, n_nodes=20, n_edges=40)
    dist = graph.pagerank(edges)  # gate rejects -> distributed
    monkeypatch.undo()
    local = graph.pagerank(edges)
    assert _rows(local) == _rows(dist)
