"""Connected-components duplicate clustering (textops.dup_clusters).

Pins the iterative min-label propagation against an independent
driver-side transitive closure of the same edge list, on both the
synthetic documents table and adversarial hand-built graphs (chains —
the worst case for propagation depth — plus multi-component mixes and
an empty edge list).
"""

import pytest

from pyspark.sql import functions as F

from supacrawler_spark import textops

SF_DIR = "/root/testdata/sf0.001"


def _py_components(pairs):
    """Independent closure: dict doc -> min id of its component."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        comp, stack = {start}, [start]
        while stack:
            for v in adj[stack.pop()]:
                if v not in comp:
                    comp.add(v)
                    stack.append(v)
        m = min(comp)
        for x in comp:
            out[x] = m
    return out


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["component"]
           for r in textops.connected_components(edges, **kw).collect()}
    return got


@pytest.mark.parametrize("pairs", [
    # single chain of length 9: needs several propagation rounds
    [(i, i + 1) for i in range(9)],
    # two components + a triangle + duplicate and reversed edges
    [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10),
     (2, 1), (20, 21)],
    # star (quasi-clique shape LSH actually produces)
    [(5, k) for k in range(6, 16)],
])
def test_connected_components_vs_python(spark, pairs):
    assert _cc(spark, pairs) == _py_components(pairs)


def test_connected_components_chain_needs_iterations(spark):
    # chain 0-1-...-15: min label must travel the full diameter,
    # proving the loop really iterates past round one
    pairs = [(i, i + 1) for i in range(15)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {0}
    assert len(got) == 16


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert textops.connected_components(edges).count() == 0


def test_dup_clusters_matches_pairs_closure(spark):
    pairs = [(r["doc_a"], r["doc_b"]) for r in
             textops.lsh_verified_pairs(spark, SF_DIR).collect()]
    want = _py_components(pairs)
    rows = textops.dup_clusters(spark, SF_DIR).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert got == want
    # sizes agree with the closure
    from collections import Counter
    sizes = Counter(want.values())
    for r in rows:
        assert r["cluster_size"] == sizes[r["cluster_id"]]


def test_dedup_keep_best_picks_longest_then_min_id(spark):
    clusters = {r["doc_id"]: r["cluster_id"]
                for r in textops.dup_clusters(spark, SF_DIR).collect()}
    toks = {r["doc_id"]: r["n_tokens"] for r in
            textops._docs(spark, SF_DIR).select(
                "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
            .collect()}
    want = {}
    for doc, cl in clusters.items():
        cur = want.get(cl)
        key = (-toks[doc], doc)
        if cur is None or key < (-toks[cur], cur):
            want[cl] = doc
    got = {r["cluster_id"]: r["keep_doc_id"] for r in
           textops.dedup_keep_best(spark, SF_DIR).collect()}
    assert got == want


def test_repetition_stats_vs_python(spark):
    from supacrawler_spark.textops import repetition_stats, _docs
    from collections import Counter
    docs = {r["doc_id"]: r["text"]
            for r in _docs(spark, SF_DIR).collect()}
    rows = repetition_stats(spark, SF_DIR).collect()
    assert len(rows) == len(docs)
    for r in rows:
        w = docs[r["doc_id"]].split(" ")
        tc = Counter(w)
        assert r["n_tokens"] == len(w)
        assert r["distinct_token_ratio"] == len(tc) / len(w)
        assert r["top_token_frac"] == max(tc.values()) / len(w)
        if len(w) >= 2:
            bc = Counter(f"{a} {b}" for a, b in zip(w, w[1:]))
            assert r["top_bigram_frac"] == max(bc.values()) / (len(w) - 1)
        else:
            assert r["top_bigram_frac"] is None


def test_decontam_overlap_vs_python(spark):
    from supacrawler_spark.textops import decontam_overlap, _docs
    docs = {r["doc_id"]: r["text"]
            for r in _docs(spark, SF_DIR).collect()}

    def grams(text, n=4):
        w = text.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    bench = {}
    for d, t in docs.items():
        if d % 97 == 0:
            for g in grams(t):
                bench.setdefault(g, set()).add(d)
    want = {}
    for d, t in docs.items():
        if d % 97 == 0:
            continue
        hits = {g for g in grams(t) if g in bench}
        if hits:
            want[d] = (len(hits),
                       len({b for g in hits for b in bench[g]}))
    got = {r["doc_id"]: (r["n_hits"], r["n_bench_docs"])
           for r in decontam_overlap(spark, SF_DIR).collect()}
    assert got == want
    assert len(got) > 0  # the fixture corpus must exercise the path


def test_connected_components_random_graphs(spark):
    """Property: on random graphs (including multi-component, dup
    edges, self-loops), the iterative propagation equals the
    driver-side closure."""
    import random
    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(2, 40)
        m = rng.randint(1, 60)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        got = _cc(spark, pairs)
        assert got == _py_components(pairs), (trial, pairs)


def test_multi_signal_clusters_subsume_each_signal(spark):
    """OR-combination invariants: every doc clustered by either signal
    is clustered by multi_signal_clusters, and any two docs sharing a
    cluster under one signal still share one under the union (merging
    can only coarsen, never split)."""
    mh = {r["doc_id"]: r["cluster_id"]
          for r in textops.dup_clusters(spark, SF_DIR).collect()}
    sh = {r["doc_id"]: r["cluster_id"]
          for r in textops.simhash_clusters(spark, SF_DIR).collect()}
    ms = {r["doc_id"]: r["cluster_id"]
          for r in textops.multi_signal_clusters(spark, SF_DIR).collect()}
    assert set(mh) | set(sh) == set(ms)
    for part in (mh, sh):
        docs = sorted(part)
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                if part[a] == part[b]:
                    assert ms[a] == ms[b], (a, b)


def test_cc_driver_path_equals_distributed(spark, monkeypatch):
    """The small-edge union-find gate must be invisible: same
    (id, component) sets as the distributed min-label rounds (forced
    by a negative bound) on random graphs (chains force multi-round
    propagation)."""
    import random
    from supacrawler_spark.textops import connected_components

    rng = random.Random(11)
    for trial in range(4):
        nodes = list(range(30))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
        edges += [(i, i + 1) for i in range(10)]        # a long chain
        df = spark.createDataFrame(edges, "src long, dst long")
        fast = {(r["id"], r["component"])
                for r in connected_components(df).collect()}
        with monkeypatch.context() as m:
            m.setattr(textops, "CC_SMALL_EDGES", -1)
            slow = {(r["id"], r["component"])
                    for r in connected_components(df).collect()}
        assert fast == slow, f"trial {trial}"


VERIFIED_OPS = ("lsh_verified_pairs", "allpairs_jaccard",
                "allpairs_containment")


@pytest.mark.parametrize("op", VERIFIED_OPS)
def test_lsh_verified_pairs_shuffle_path_equals_broadcast(
        spark, monkeypatch, op):
    """The LSH_SMALL_PAIRS gate must be invisible: for every operator
    verified through it, the shuffle-join fallback (adversarial dup
    density, forced by a negative bound) returns the exact same pairs
    as the broadcast-dim fast path (mirror of
    test_cc_driver_path_equals_distributed)."""
    build = getattr(textops, op)
    fast = {tuple(r) for r in build(spark, SF_DIR).collect()}
    monkeypatch.setattr(textops, "LSH_SMALL_PAIRS", -1)
    slow = {tuple(r) for r in build(spark, SF_DIR).collect()}
    assert fast == slow
    assert len(fast) > 0  # the fixture corpus must exercise the path
