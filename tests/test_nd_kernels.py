"""The near-dup kernels against independent references on random
corpora: ``_verified`` (shingle-array intersection on the pair row)
against ``_overlap_pairs`` (the raw shingle self-join), and
``_simhash_df`` against a pure-Python md5 vote."""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from supacrawler_spark import textops
from supacrawler_spark.session import arrow_df

# A tiny vocabulary repeats shingles within and across docs; the empty
# word makes double spaces (empty tokens) and trailing spaces.
WORDS = st.sampled_from(["a", "b", "c", "", "é"])
TEXTS = st.lists(WORDS, max_size=9).map(" ".join)


@st.composite
def corpora(draw):
    """Distinct texts (short ones included) plus exact copies of some
    of them, as doc_id -> text."""
    texts = draw(st.lists(TEXTS, min_size=1, max_size=10))
    copies = draw(st.lists(st.sampled_from(texts), max_size=3))
    return dict(enumerate(texts + copies))


def _docs(spark, corpus):
    # Arrow-backed: a LocalRelation scan runs no Python worker
    return arrow_df(spark, {"doc_id": list(corpus),
                            "text": list(corpus.values())},
                    "doc_id long, text string")


@settings(max_examples=12, deadline=None)
@given(corpus=corpora(), small=st.booleans())
def test_verified_equals_shingle_self_join(spark, corpus, small):
    """Every pair as a candidate, on both sides of the LSH_SMALL_PAIRS
    gate: the array intersection returns exactly the self-join's pairs
    sharing >= 1 shingle, with the same (n_inter, n_a, n_b)."""
    docs = _docs(spark, corpus)
    ids = sorted(corpus)
    pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    pairs = arrow_df(spark, {"doc_a": [a for a, _ in pairs],
                             "doc_b": [b for _, b in pairs]},
                     "doc_a long, doc_b long")
    bound = textops.LSH_SMALL_PAIRS
    textops.LSH_SMALL_PAIRS = bound if small else -1
    try:
        got = {tuple(r) for r in textops._verified(pairs, docs).collect()}
    finally:
        textops.LSH_SMALL_PAIRS = bound
    want = {tuple(r) for r in textops._overlap_pairs(docs).collect()}
    assert got == want


def _simhash_ref(text, bits):
    """Bit b of the fingerprint is the sign of the +1/-1 votes of bit
    b % 4 of hex digit b // 4 of md5(token), over the doc's tokens."""
    votes = [0] * bits
    for tok in text.split(" "):
        hx = hashlib.md5(tok.encode()).hexdigest()
        for b in range(bits):
            votes[b] += 1 if (int(hx[b // 4], 16) >> (b % 4)) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] > 0)


@pytest.mark.parametrize("bits", [16, 48])
@settings(max_examples=8, deadline=None)
@given(corpus=corpora())
def test_simhash_equals_python_vote(spark, bits, corpus):
    got = {r["doc_id"]: r["simhash"]
           for r in textops._simhash_df(_docs(spark, corpus), bits).collect()}
    assert got == {d: _simhash_ref(t, bits) for d, t in corpus.items()}
