"""allpairs_jaccard (textops): the prefix filter is EXACT — fuzzed
random corpora vs a brute-force Python twin, plus the fixture run."""

import random

from supacrawler_spark import textops

SF_DIR = "/root/testdata/sf0.001"
NUM, DEN = textops.ALLPAIRS_NUM, textops.ALLPAIRS_DEN


def _sh(text, n=3):
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)} \
        if len(ws) >= n else set()


def _brute(docs):
    shs = {d: _sh(t) for d, t in docs.items() if _sh(t)}
    out = {}
    ids = sorted(shs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(shs[a] & shs[b])
            union = len(shs[a]) + len(shs[b]) - inter
            if inter and DEN * inter >= NUM * union:
                out[(a, b)] = (inter, inter / union)
    return out


def _run(spark, docs):
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    return {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["jaccard"])
            for r in textops.allpairs_jaccard_from(df).collect()}


def test_allpairs_fixture_matches_brute_force(spark):
    docs = {r["doc_id"]: r["text"]
            for r in textops._docs(spark, SF_DIR).collect()}
    assert _run(spark, docs) == _brute(docs)


def test_allpairs_fuzz_prefix_filter_is_lossless(spark):
    """Random near-dup-heavy corpora: mutate a base text by token
    swaps/drops so pairs straddle the 0.8 boundary; the prefix-filtered
    result must equal brute force every time."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(5):
        base = [rng.choice(vocab) for _ in range(40)]
        docs = {}
        for d in range(12):
            toks = list(base)
            for _ in range(rng.randrange(0, 8)):   # 0-7 point mutations
                i = rng.randrange(len(toks))
                if rng.random() < 0.5:
                    toks[i] = rng.choice(vocab)
                else:
                    del toks[i]
            docs[d] = " ".join(toks)
        want = _brute(docs)
        got = _run(spark, docs)
        assert got == want, f"trial {trial}: {got.keys()} != {want.keys()}"


def test_allpairs_containment_fixture_matches_brute_force(spark):
    docs = {r["doc_id"]: r["text"]
            for r in textops._docs(spark, SF_DIR).collect()}
    shs = {d: _sh(t) for d, t in docs.items() if _sh(t)}
    cn, cd = textops.CONTAIN_NUM, textops.CONTAIN_DEN
    want = {}
    ids = sorted(shs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(shs[a] & shs[b])
            m = min(len(shs[a]), len(shs[b]))
            if inter and cd * inter >= cn * m:
                want[(a, b)] = (inter, inter / m)
    got = {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["containment"])
           for r in textops.allpairs_containment(spark, SF_DIR).collect()}
    assert got == want


def test_prefix_filter_kills_hot_shingle_candidates(spark):
    """On a boilerplate-heavy corpus (one sentence shared by ALL docs)
    the naive shingle self-join intersects every pair — O(n²) — while
    the rarity-ordered prefix keeps the hot shingles out of every
    prefix, so candidates stay near zero AND the result is still
    exact (equal to brute force)."""
    from pyspark.sql import functions as F
    from supacrawler_spark.textops import (
        ALLPAIRS_DEN, ALLPAIRS_NUM, _rarity_prefix, allpairs_jaccard_from,
        shingles)

    n = 40
    boiler = "click here to subscribe to our newsletter today"
    docs = {i: f"unique{i}a word{i}b token{i}c {boiler} tail{i}d end{i}e"
            for i in range(n)}
    df = spark.createDataFrame(list(docs.items()),
                               "doc_id long, text string")
    # brute force: every pair shares the boilerplate shingles
    sh = shingles(df).distinct()
    brute_pairs = (sh.alias("a").join(sh.alias("b"), "shingle")
                   .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                   .select("a.doc_id", "b.doc_id").distinct().count())
    assert brute_pairs == n * (n - 1) // 2
    # the engine's own rarity prefix, as allpairs_jaccard_from builds it
    pref = _rarity_prefix(sh, ALLPAIRS_NUM, ALLPAIRS_DEN)
    cand = (pref.alias("a").join(pref.alias("b"), "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id").distinct().count())
    assert cand == 0                      # hot shingles never in a prefix
    # and exactness is preserved: no pair reaches Jaccard 0.8 anyway
    assert allpairs_jaccard_from(df).count() == 0
