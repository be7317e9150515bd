"""Training-data pipeline text operators over the documents table.

Each operator is a pure DataFrame builder (spark, sf_dir) -> DataFrame,
designed to stay JVM-side (built-in functions, whole-stage codegen —
no Python in the hot path) and to have an exact DuckDB oracle twin in
__spark_entry__.oracle_sql().

Hash-function portability: cross-engine-checkable operators use md5
(identical hex in Spark and DuckDB) rather than murmur3/xxhash64
(engine-specific). At 100 TB you would swap md5 for xxhash64 — the
plans are hash-agnostic.

Scale notes per operator are in the docstrings; the common themes:
- shingling explodes ~n_tokens rows/doc: partial aggregation
  (map-side combine) keeps the shuffle at one row per (doc, distinct
  shingle);
- LSH band join is an equi-join on band value — co-hash-partitioned,
  no broadcast of anything document-sized;
- candidate verification only touches pairs sharing a band, never the
  n^2 cross join.

Near-dup verification lives in one place: every candidate filter (LSH
bands in lsh_verified_pairs, rarity prefixes in the allpairs_*
operators) hands its lazy pair frame to _verified, which gates it on
LSH_SMALL_PAIRS and returns the exact shingle overlap (n_inter, n_a,
n_b) by intersecting the two docs' shingle arrays on the pair row;
each operator applies only its own score and threshold. The bounded
exactness anchors (ngram_jaccard_pairs, containment_pairs) share
_overlap_pairs, the raw shingle self-join that is also the reference
_verified is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from supacrawler_spark.session import (
    arrow_df, bounded_head, read_table, split_small_scan)

STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is", "for")
LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "und", "von", "zu", "ein"),
    "fr": ("le", "et", "de", "la", "un"),
}
MINHASH_PERMS = 8
LSH_BANDS = 4  # 2 rows per band
SIMHASH_ND_BITS = 48   # near-dup fingerprint width (4 x 12-bit bands)
SIMHASH_ND_BANDS = 4
SIMHASH_ND_MAXDIST = 3  # pigeonhole: dist<=3 => >=1 of 4 bands identical


def _docs(spark, sf_dir):
    """The documents table (session.read_table: its schema is inferred
    once per file, so a call after the first runs no Spark job),
    small-scan healed. Docs frames are keyed by doc_id."""
    return split_small_scan(read_table(spark, sf_dir, "documents"))


def _tokens(docs):
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def token_count(spark, sf_dir) -> DataFrame:
    """Whitespace token counting. Narrow map-only plan: no shuffle,
    split+size stay in codegen."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length("text").alias("len_chars"),
    )


# BPE-ish pre-tokenizer pattern (the GPT-2 pre-tokenizer shape,
# lookahead-free so Java regex (Spark codegen) and RE2 (DuckDB twin)
# agree exactly): optional leading space + letter run | digit run |
# punctuation run, else whitespace run.
BPE_TOKEN_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(spark, sf_dir) -> DataFrame:
    """Token counting, BPE-ish variant: counts pre-tokenizer pieces
    via a native regexp_count — JVM-side, map-only, no UDF. The
    whitespace count (token_count) underestimates LLM token budgets
    on punctuation-heavy text; this is the standard first-order
    estimator used by training-data pipelines."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_count("text", F.lit(BPE_TOKEN_RE)).alias("n_bpe_pieces"),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
    )


def quality_score(spark, sf_dir) -> DataFrame:
    """Quality signals: token stats + stopword ratio. r6: map-only —
    every aggregate is an array fold over split(text) in whole-stage
    codegen (the gopher_quality shape), so the explode + groupBy
    shuffle is gone entirely; the per-doc sums are the same integers,
    the ratios the same single IEEE divisions. Null-text docs are
    filtered exactly as the explode dropped them."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    w = F.split("text", " ")
    n_tokens = F.size(w).cast("long")
    n_stop = F.size(F.filter(w, lambda t: t.isin(*STOPWORDS_EN))) \
        .cast("long")
    sum_len = F.aggregate(w, F.lit(0).cast("long"),
                          lambda a, t: a + F.length(t))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        (n_stop / n_tokens).alias("stopword_ratio"),
        (sum_len / n_tokens).alias("avg_token_len"),
    )


def lang_id(spark, sf_dir) -> DataFrame:
    """Stopword-dictionary language ID (n-gram heuristic at word
    level). r6: map-only — per-language scores are array-filter sizes
    over split(text) (no explode, no shuffle); argmax is a CASE chain,
    all codegen. Same integers as the retired explode+groupBy."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    w = F.split("text", " ")

    def _score(kws):
        # one-arg lambda only: F.filter reads a second lambda param as
        # the element index
        return F.size(F.filter(w, lambda t: t.isin(*kws))).cast("long")

    score_cols = [_score(kws).alias(f"score_{lang}")
                  for lang, kws in sorted(LANG_STOPWORDS.items())]
    scored = docs.select("doc_id", *score_cols)
    best = F.greatest(*[F.col(f"score_{l}") for l in sorted(LANG_STOPWORDS)])
    pred = F.when(F.col("score_en") == best, F.lit("en"))
    for lang in ("de", "fr"):
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(
        "doc_id", *[f"score_{l}" for l in sorted(LANG_STOPWORDS)],
        pred.alias("pred_lang"))


def fingerprint(spark, sf_dir) -> DataFrame:
    """Document fingerprinting: full-text digest + a coarse prefix
    bucket (the rolling-hash stand-in that is cross-engine exact)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.md5(F.substring("text", 1, 40)).alias("fp_prefix40"),
    )


def gopher_quality_df(docs) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, "Scaling Language
    Models: Methods, Analysis & Insights from Training Gopher",
    Appendix A1.1 subset) as a pure map-only JVM plan: every signal is
    an array-function fold over split(text) — zero shuffles, zero
    Python; at 100 TB this runs entirely inside the scan stage.
    Repetition-based Gopher rules live in repetition_stats; stopword
    presence in quality_score."""
    words = F.filter(F.split("text", "\\s+"), lambda w: w != F.lit(""))
    lines = F.split("text", "\n")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    sum_len = F.aggregate(F.transform(words, F.length),
                          F.lit(0).cast("long"), lambda a, x: a + x)
    n_alpha = F.size(F.filter(
        words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_symbol = F.size(F.filter(
        words, lambda w: w.contains("#") | w.contains("...")
        | w.contains("…"))).cast("long")
    n_bullet = F.size(F.filter(
        lines, lambda l: l.rlike("^\\s*[-*•]"))).cast("long")
    n_ellipsis = F.size(F.filter(
        lines, lambda l: l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")

    out = docs.select(
        "doc_id", n_words.alias("n_words"), n_lines.alias("n_lines"),
        F.when(n_words == 0, F.lit(None).cast("double"))
         .otherwise(sum_len / n_words).alias("mean_word_len"),
        F.when(n_words == 0, F.lit(None).cast("double"))
         .otherwise(n_alpha / n_words).alias("alpha_ratio"),
        F.when(n_words == 0, F.lit(None).cast("double"))
         .otherwise(n_symbol / n_words).alias("symbol_ratio"),
        (n_bullet / n_lines).alias("bullet_ratio"),
        (n_ellipsis / n_lines).alias("ellipsis_ratio"),
    )
    passed = (
        (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_ratio") <= 0.1) & (F.col("alpha_ratio") >= 0.8)
        & (F.col("bullet_ratio") <= 0.9) & (F.col("ellipsis_ratio") <= 0.3))
    return out.withColumn(
        "gopher_pass", F.coalesce(passed, F.lit(False)).cast("int"))


def gopher_quality(spark, sf_dir) -> DataFrame:
    return gopher_quality_df(_docs(spark, sf_dir))


def c4_line_stats_df(docs) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
    Transfer Learning with a Unified Text-to-Text Transformer", §2.2)
    as a map-only JVM plan. Line keep mask: ends in terminal
    punctuation, >=5 words, no "javascript". Page-level flags: "lorem
    ipsum", '{'; page passes with >=3 kept lines and neither flag.
    Zero shuffles — nested array lambdas, all codegen."""
    lines = F.split("text", "\n")
    kept = F.filter(lines, lambda l: (
        l.rlike("[.!?\"]\\s*$")
        & (F.size(F.filter(F.split(l, "\\s+"),
                           lambda w: w != F.lit(""))) >= 5)
        & ~F.lower(l).contains("javascript")))
    n_lines = F.size(lines).cast("long")
    n_kept = F.size(kept).cast("long")
    has_lorem = F.lower(F.col("text")).contains("lorem ipsum")
    has_brace = F.col("text").contains("{")
    return docs.select(
        "doc_id", n_lines.alias("n_lines"), n_kept.alias("kept_lines"),
        (n_kept / n_lines).alias("kept_ratio"),
        has_lorem.cast("int").alias("has_lorem"),
        has_brace.cast("int").alias("has_brace"),
        ((n_kept >= 3) & ~has_lorem & ~has_brace)
        .cast("int").alias("c4_pass"),
    )


def c4_line_filter(spark, sf_dir) -> DataFrame:
    return c4_line_stats_df(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def exact_dedup(spark, sf_dir) -> DataFrame:
    """Exact duplicate groups on a 16-char prefix digest (hash-groupBy;
    the full-text variant is md5(text) — prefix 16 guarantees real
    collisions in the synthetic corpus). Returns one row per duplicate
    group: representative = min doc_id. Scale: single hash shuffle on
    the digest; skew-free (digests are uniform)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.substring("text", 1, 16)).alias("fp"))
    return (d.groupBy("fp").agg(
        F.count("*").alias("dup_count"),
        F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("dup_count") > 1))


def _gram_arr(w, n: int):
    """Array of word n-grams over a token-array column (rows with
    fewer than n tokens must be filtered out by the caller)."""
    idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
    return F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.element_at(w, i + k) for k in range(n)]))


def _ngrams(docs, n: int):
    """(doc_id, gram) word n-gram explode. Docs shorter than n tokens
    are dropped (sequence() would go negative). The token array is a
    column of its own: inlined into the gram lambda, split(text) would
    run once per element_at, n times per gram."""
    toks = (docs.select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= n))
    return toks.select("doc_id",
                       F.explode(_gram_arr(F.col("w"), n)).alias("gram"))


def shingles(docs):
    """(doc_id, shingle) word 3-gram shingles, exploded lazily; the
    near-dup operators' unit of overlap."""
    return _ngrams(docs, 3).withColumnRenamed("gram", "shingle")


def doc_shingles(spark, sf_dir) -> DataFrame:
    return shingles(_docs(spark, sf_dir)).distinct()


def minhash_signatures(spark, sf_dir, perms: int = MINHASH_PERMS) -> DataFrame:
    """MinHash signatures: perm k's hash of a shingle is
    md5(k || '|' || shingle); the signature component is the min over
    the doc's distinct shingles. One explode + one groupBy; the min()
    aggregates combine map-side, so the shuffle carries one row per
    doc, not per shingle. No distinct before it: the min over a
    multiset is the min over its set, so a (doc, shingle) dedup
    shuffle would change no signature."""
    sh = shingles(_docs(spark, sf_dir))
    aggs = [F.min(F.md5(F.concat_ws("|", F.lit(str(k)), "shingle")))
            .alias(f"mh{k}") for k in range(perms)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(spark, sf_dir, perms: int = MINHASH_PERMS,
                      bands: int = LSH_BANDS) -> DataFrame:
    """LSH candidate pairs: signature split into bands (2 rows each),
    band value hashed, equi-self-join per band, distinct pairs a<b.
    Scale: the join key is (band_id, band_hash) — co-partitioned
    shuffle join; no n^2."""
    sig = minhash_signatures(spark, sf_dir, perms)
    rows_per_band = perms // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}")
                 for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    banded = sig.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bh"))
            for b in range(bands)])).alias("bd")
    ).select("doc_id", "bd.band_id", "bd.bh")
    a = stacked.alias("a")
    b = stacked.alias("b")
    pairs = (a.join(b, ["band_id", "bh"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return pairs


def _overlap_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle overlap of EVERY pair of a bounded docs frame ->
    (doc_a, doc_b, n_inter, n_a, n_b), pairs sharing >= 1 shingle: the
    raw shingle self-join the bounded exactness anchors use (over
    doc_id < max_doc). The join is on the shingle value
    (co-partitioned); the per-doc sizes broadcast — the caller's bound
    keeps them small."""
    sh = shingles(docs).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, "shingle")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (inter.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .select("doc_a", "doc_b", "n_inter", "n_a", "n_b"))


def _jaccard():
    """n_inter / |A ∪ B| over (n_inter, n_a, n_b) pair rows — the
    quotient of two exact BIGINTs, so the double is bit-identical
    across engines."""
    return F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))


def ngram_jaccard_pairs(spark, sf_dir, threshold: float = 0.8,
                        max_doc: int = 200) -> DataFrame:
    """n-gram Jaccard near-dup verification over a bounded doc range:
    intersection via the shingle equi-join of _overlap_pairs, union =
    |A|+|B|-∩."""
    jac = _jaccard()
    return (_overlap_pairs(_docs(spark, sf_dir)
                           .filter(F.col("doc_id") < max_doc))
            .filter(jac >= threshold)
            .select("doc_a", "doc_b", "n_inter", jac.alias("jaccard")))


LSH_SMALL_PAIRS = 1_000_000
"""Candidate-pair bound below which the pair list (fixed-width, 2
BIGINTs per row, so ≲40 MB at the bound) broadcasts. Above it — a
duplicate-heavy corpus (boilerplate-dominated, mirror-heavy
Common-Crawl shards) where candidates are a large multiple of docs —
every join falls back to a co-partitioned shuffle equi-join; nothing
broadcast-sized is allowed to grow with dup density. The only selector
of _verified's path, so it gates every candidate filter alike. Same
driver-known-bound gating discipline as CC_SMALL_EDGES and fetch_join's
sched_bound."""


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each doc's distinct 3-gram shingle array, built
    row-locally (no explode, no shuffle); docs shorter than 3 tokens
    have no shingles and are dropped, as in shingles()."""
    w = (docs.select("doc_id", F.split("text", " ").alias("w"))
         .filter(F.size("w") >= 3))
    return w.select("doc_id",
                    F.array_distinct(_gram_arr(F.col("w"), 3)).alias("sh"))


def _verified(pairs_src: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact shingle overlap of candidate pairs only: the lazy
    (doc_a, doc_b) pair frame ``pairs_src`` (doc_a < doc_b, distinct)
    against the (doc_id, text) frame ``docs`` (keyed by doc_id) ->
    (doc_a, doc_b, n_inter, n_a, n_b) BIGINTs, pairs sharing >= 1
    shingle. No raw shingle self-join, no doc_id bound: the one
    verification step every candidate filter shares (TokenJoin's
    filter-then-verify split).

    Verification is list intersection on the pair row (LCJoin, ICDE'19;
    HERO, SIGMOD'24), not a join: each doc's distinct shingle array is
    built row-locally (_shingle_sets), joined to the pairs on doc_a and
    then on doc_b, and n_inter = size(array_intersect(sa, sb)) over the
    exact shingle strings, so a hash collision can never change it. No
    (doc, shingle) rows are exploded, shuffled or grouped.

    Scale shape: the pairs are gated against LSH_SMALL_PAIRS in ONE
    job by session.bounded_head, whose Arrow table, below the bound,
    IS the materialization: the pair list becomes a driver-local
    table, so the plan's consumers pay zero recompute and the gate
    costs no second action. Below the bound (the normal regime:
    candidates are a vanishing fraction of docs) the pair list
    broadcasts, so the doc_a side is filtered map-side before any
    shuffle; the doc_b side joins as the planner sizes it (a broadcast
    of the arrays while the docs scan is under the broadcast
    threshold). Above the bound the pairs localCheckpoint instead (the
    distributed consumers re-read them) and both joins are plain
    shuffle equi-joins — adversarial dup density degrades to extra
    shuffles, never a driver OOM."""
    head = bounded_head(pairs_src, LSH_SMALL_PAIRS)
    small = head is not None
    pairs = (arrow_df(pairs_src.sparkSession, head, pairs_src.schema)
             if small else pairs_src.localCheckpoint())
    dim = F.broadcast if small else (lambda df: df)
    sets = _shingle_sets(docs)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    return (sa.join(dim(pairs), "doc_a").join(sb, "doc_b")
            .selectExpr("doc_a", "doc_b",
                        "CAST(size(array_intersect(sa, sb)) AS BIGINT)"
                        " AS n_inter",
                        "CAST(size(sa) AS BIGINT) AS n_a",
                        "CAST(size(sb) AS BIGINT) AS n_b")
            .filter("n_inter > 0"))


def lsh_verified_pairs(spark, sf_dir, threshold: float = 0.8) -> DataFrame:
    """The scale path for near-dup verification: exact n-gram Jaccard
    computed ONLY for LSH candidate pairs (minhash_lsh_pairs), over the
    FULL corpus, through the gated _verified step, which reads each
    candidate's shingles from its text row — the shingles are exploded
    once per call, for the signatures."""
    jac = _jaccard()
    v = _verified(minhash_lsh_pairs(spark, sf_dir), _docs(spark, sf_dir))
    return (v.filter(jac >= threshold)
            .select("doc_a", "doc_b", "n_inter", jac.alias("jaccard")))


def _simhash_df(docs: DataFrame, bits: int) -> DataFrame:
    """SimHash core over a docs frame: per token, bit b of md5(token)
    votes +1/-1; fingerprint bit = sign of the vote sum. Bits come
    from the first ``bits/4`` hex chars — cross-engine exact: nibble i
    of the hex prefix is bits 4i..4i+3 of the fingerprint, so with
    h = that prefix as an integer, fingerprint bit b is bit
    4*(bits/4-1-b div 4) + b%4 of h. bits must be < 63 so the
    fingerprint stays a non-negative BIGINT.

    A small plan: h is computed once per token; the token rows explode
    over sequence(0, bits-1), the votes sum per (doc_id, b) with
    map-side partial aggregation, and one more groupBy folds the bit
    signs into the fingerprint. Every expression is one SQL string
    parsed JVM-side, so the plan's size and its build time do not grow
    with ``bits`` (48 vote aggregates and a 48-term sum took ~0.4 s of
    driver time to build and plan)."""
    hexes = bits // 4
    votes = (_tokens(docs)
             .selectExpr("doc_id", "CAST(conv(substring(md5(tok), 1, "
                         f"{hexes}), 16, 10) AS BIGINT) AS h")
             .selectExpr("doc_id", "h",
                         f"explode(sequence(0, {bits - 1})) AS b")
             .selectExpr("doc_id", "b",
                         f"IF(shiftright(h, 4 * ({hexes - 1} - b div 4)"
                         " + b % 4) & 1 = 1, 1, -1) AS s")
             .groupBy("doc_id", "b").agg(F.expr("sum(s)").alias("v")))
    return votes.groupBy("doc_id").agg(
        F.expr("sum(IF(v > 0, shiftleft(1L, b), 0L))").alias("simhash"))


def simhash(spark, sf_dir, bits: int = 16) -> DataFrame:
    """16-bit SimHash fingerprint per document (driver-contract query;
    see _simhash_df for the kernel)."""
    return _simhash_df(_docs(spark, sf_dir), bits)


WINNOW_K = 3   # k-gram size
WINNOW_W = 4   # window of consecutive k-gram hashes


def winnow_fingerprints(spark, sf_dir, k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token k-gram, slide a
    window of ``w`` consecutive hashes, keep each window's minimum.
    Guarantees any shared run of >= k+w-1 tokens yields a shared
    fingerprint, while selecting only ~2/(w+1) of the hashes —
    position-robust plagiarism/overlap detection where shingle-set
    methods over-count and simhash under-localizes.

    Scale shape: entirely array-native inside one projection — the
    gram array, its md5-hex array, and the per-window minima all live
    in the row; nothing explodes until the final distinct fingerprint
    set, so the shuffle carries the selected minima only (~2n/(w+1)
    rows/doc, not n windows). Ties need no rule because the output is
    the distinct SET of selected hash values. md5 hex strings compare
    lexicographically identically in both engines. The token array is
    its own column (see _ngrams)."""
    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.size("toks") >= k + w - 1))
    hashes = F.transform(_gram_arr(F.col("toks"), k), lambda g: F.md5(g))
    docs = docs.select("doc_id", hashes.alias("hs"))
    idx = F.sequence(F.lit(1), F.size("hs") - (w - 1))
    mins = F.transform(idx, lambda i: F.array_min(F.slice("hs", i, w)))
    return (docs.select("doc_id",
                        F.explode(F.array_distinct(mins)).alias("fp"))
            .distinct())


def simhash_near_dup(spark, sf_dir, bits: int = SIMHASH_ND_BITS,
                     bands: int = SIMHASH_ND_BANDS,
                     max_dist: int = SIMHASH_ND_MAXDIST) -> DataFrame:
    """SimHash near-dup pairs: banded Hamming LSH, no all-pairs.

    Scale shape (the 100-TB path): a 48-bit fingerprint is split into
    4 contiguous 12-bit bands; by pigeonhole, any pair within Hamming
    distance 3 agrees exactly on >= 1 band, so candidates are an
    EQUI-join on (band, key) — the corpus is never self-crossed — and
    the exact popcount check runs only on candidates. 12-bit keys give
    ~1/4096 random band collision, so candidate volume stays ~n²/4096
    per band even on adversarial corpora; at larger n, raise ``bits``
    (64-bit simhash, 4x16-bit bands) without changing the plan shape.

    Analog of the reference's duplicate-page suppression (parity:
    internal/core/crawl/service.go processed-set semantics; near-dup
    is the training-pipeline extension). Output:
    (doc_id_a, doc_id_b, hamming) with doc_id_a < doc_id_b.
    """
    width = bits // bands
    sig = _simhash_df(_docs(spark, sf_dir), bits)
    keyed = sig.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("simhash", i * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
            for i in range(bands)])).alias("bk")) \
        .select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id_a"),
                    F.col("b.doc_id").alias("doc_id_b"),
                    F.col("a.simhash").alias("sa"),
                    F.col("b.simhash").alias("sb"))
            .distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (cand.select("doc_id_a", "doc_id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_dist))


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

CC_SMALL_EDGES = 100_000
"""Edge-count bound below which clustering runs driver-side: the
session.bounded_head gate's rows are union-found on the driver. The
only selector of the clustering path."""


def _union_find(pairs) -> dict:
    """Driver-side union-find over (src, dst) pairs -> {node: min-id
    component}. Path-halving + min-root union keeps the component
    label equal to the min node id, matching the distributed min-label
    propagation bit-for-bit."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Undirected edge list ``(src, dst)`` -> ``(id, component)`` where
    ``component`` is the min node id in the node's connected component:
    the (doc_id, cluster_id) projection of _clusters_from_edges, so the
    gate runs once per call and the unused size column is pruned.

    Adaptive: below CC_SMALL_EDGES edges the component structure is
    driver-sized even when the CORPUS is 100 TB (verified near-dup
    edges are a vanishing fraction of documents), so the bounded_head
    gate's rows are union-found in microseconds — the same
    driver-known-bound gating as the fetch join's broadcast gate.
    Measured (4x sf0.1, local[8]): neutral for dup_clusters (its edge
    input is pre-checkpointed and converges in ~2 rounds) and **15.6s
    -> 10.1s for multi_signal_clusters**, whose unioned two-pipeline
    edge input made every distributed round re-walk more plan. Above
    the bound, distributed min-label propagation:

    Min-label propagation: every round each node takes the min of its
    own label and its neighbours' labels; rounds needed = graph
    diameter. Near-dup clusters are quasi-cliques (every member shares
    LSH bands with most others), so diameter is 2-3 and the loop exits
    after the first round that changes nothing.

    100-TB shape per round: one equi-join of the (cached, symmetrized)
    edge list against the label table on the neighbour key, then a
    map-side-combinable ``min`` groupBy back to one row per node —
    two hash shuffles on uniform keys, nothing broadcast-sized grows
    with corpus size. ``localCheckpoint`` truncates lineage so the
    plan does not grow with rounds (the classic iterative-DataFrame
    trap). For adversarial long-chain graphs swap the body for
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", O(log^2 n) rounds, same per-round cost);
    dedup clusters never need it.
    """
    return (_clusters_from_edges(_cluster_edges(edges, "src", "dst"),
                                 max_iter)
            .select(F.col("doc_id").alias("id"),
                    F.col("cluster_id").alias("component")))


def dup_clusters(spark, sf_dir, threshold: float = 0.8) -> DataFrame:
    """End of the near-dup pipeline: Jaccard-verified LSH pairs
    (lsh_verified_pairs) as edges -> connected components -> one row
    per clustered doc ``(doc_id, cluster_id, cluster_size)`` with
    ``cluster_id`` = min doc_id in the cluster. Docs in no pair are
    not duplicates and are omitted (they would be size-1 clusters of
    themselves)."""
    return _clusters_from_edges(
        _cluster_edges(lsh_verified_pairs(spark, sf_dir, threshold),
                       "doc_a", "doc_b"))


def _cluster_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    return pairs.select(F.col(a).cast("long").alias("src"),
                        F.col(b).cast("long").alias("dst"))


def _clusters_from_edges(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(src, dst) BIGINT near-dup edges (_cluster_edges) -> (doc_id,
    cluster_id, cluster_size) via connected components; cluster_id =
    min doc_id. Docs in no pair are omitted (size-1 clusters of
    themselves), like dup_clusters.

    Below CC_SMALL_EDGES the whole thing is ONE Spark job: the gate
    doubles as the data fetch, union-find + cluster sizes run
    driver-side, and the result ships back as a single Arrow batch —
    no edge checkpoint, no distinct, no window shuffle (measured: this
    family's 2->8-core scaling was driver-latency-bound; see BENCH.md).
    Above the bound: checkpoint the edges (the distributed rounds read
    them repeatedly) and run _clusters_distributed."""
    head = bounded_head(edges, CC_SMALL_EDGES)
    if head is not None:
        return _clusters_local(edges.sparkSession, [head])
    return _clusters_distributed(edges.localCheckpoint(), max_iter)


def _clusters_local(spark, heads) -> DataFrame:
    """Driver-side small path: union-find + cluster sizes over the
    (src, dst) rows of the gated ``heads`` tables, shipped back as one
    Arrow batch."""
    from collections import Counter
    comp = _union_find(p for h in heads
                       for p in zip(*h.to_pydict().values()))
    sizes = Counter(comp.values())
    return arrow_df(spark, {"doc_id": list(comp),
                            "cluster_id": list(comp.values()),
                            "cluster_size": [sizes[c]
                                             for c in comp.values()]},
                    "doc_id long, cluster_id long, cluster_size long")


def _clusters_distributed(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """The min-label propagation rounds of connected_components over
    materialized BIGINT (src, dst) edges, then the cluster size as a
    window count over the tiny label table (the same single hash
    shuffle a groupBy+join would cost)."""
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))).persist()
    labels = (sym.groupBy(F.col("src").alias("id"))
              .agg(F.min("dst").alias("nbr"))
              .select("id", F.least("id", "nbr").alias("component"))
              .localCheckpoint())
    from pyspark.sql import Observation
    for rnd in range(max_iter):
        prop = (sym.join(labels.select(F.col("id").alias("dst"),
                                       F.col("component").alias("c")), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("c").alias("nbr_min")))
        # the convergence count rides the checkpoint materialization as
        # an observed metric — ONE action per round, not two (the
        # per-round driver latency is this loop's Amdahl term)
        obs = Observation(f"cc_{id(edges)}_{rnd}")
        nxt = (labels.join(prop, "id", "left")
               .select("id",
                       F.col("component").alias("old"),
                       F.least("component",
                               F.coalesce("nbr_min", "component"))
                       .alias("component"))
               .observe(obs, F.sum((F.col("component") < F.col("old"))
                                   .cast("long")).alias("changed"))
               .localCheckpoint())
        changed = int(obs.get["changed"] or 0)
        labels = nxt.select("id", "component")
        if changed == 0:
            break
    sym.unpersist()
    w = Window.partitionBy("component")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"))


def simhash_clusters(spark, sf_dir) -> DataFrame:
    """Near-dup clustering over the SimHash banded-Hamming pairs — the
    SimHash twin of dup_clusters (which clusters MinHash+Jaccard
    pairs). Same scale shape: banded equi-join pair generation, then
    iterative min-label propagation whose per-iteration cost is one
    join + one partial agg on the (tiny) edge set."""
    return _clusters_from_edges(
        _cluster_edges(simhash_near_dup(spark, sf_dir),
                       "doc_id_a", "doc_id_b"))


def multi_signal_clusters(spark, sf_dir, threshold: float = 0.8) -> DataFrame:
    """Multi-signal dedup: the OR-combination real pipelines run —
    a doc pair is near-dup if EITHER the MinHash->Jaccard-verified
    check (lexical overlap) OR the SimHash banded-Hamming check
    (distributional similarity) fires; clusters are connected
    components of the union edge set. Each signal keeps its own
    banded no-all-pairs candidate generation; the union needs NO
    distinct — both union-find and min-label propagation are
    insensitive to duplicate edges, so deduping the edge set would
    spend a shuffle to change nothing.

    r6: the two arms are INDEPENDENT Spark jobs, so their bounded_head
    gates run concurrently (guide §2.6 — overlap independent jobs):
    the SimHash arm's pipeline back-fills executors while the MinHash
    arm runs its gate + verification jobs, instead of serializing
    ~1.4 s of SimHash work after them. Local union-find iff the
    combined arm row count is within CC_SMALL_EDGES (per-arm heads of
    N+1 make the sum test exactly a gate on the union), distributed
    min-label over the union otherwise — with no second gate. Each arm
    thread takes the caller's job group and description: under
    PySpark's pinned-thread mode a new thread starts without the
    caller's local properties, so its jobs would land in no group."""
    def mh_edges():
        return _cluster_edges(lsh_verified_pairs(spark, sf_dir, threshold),
                              "doc_a", "doc_b")

    def sh_edges():
        return _cluster_edges(simhash_near_dup(spark, sf_dir),
                              "doc_id_a", "doc_id_b")

    sc = spark.sparkContext
    labels = {k: sc.getLocalProperty(k)
              for k in ("spark.jobGroup.id", "spark.job.description")}

    def head(arm):
        for k, v in labels.items():
            sc.setLocalProperty(k, v)
        return bounded_head(arm(), CC_SMALL_EDGES)

    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as ex:
        heads = list(ex.map(head, (mh_edges, sh_edges)))
    if (all(h is not None for h in heads)
            and sum(h.num_rows for h in heads) <= CC_SMALL_EDGES):
        return _clusters_local(spark, heads)
    return _clusters_distributed(
        mh_edges().union(sh_edges()).localCheckpoint())


def dedup_rate_by_source(spark, sf_dir, threshold: float = 0.8) -> DataFrame:
    """Per-source duplication report: how many of each source's docs
    sit in a multi-signal near-dup cluster, and the duplicate rate —
    the number a curation run publishes to decide which feeds to
    down-weight or drop. Exact integers + one IEEE division.

    Scale shape: the cluster membership set is tiny (clustered docs
    only); it LEFT-joins onto the slim (doc_id, source) projection and
    collapses in one map-side-combinable groupBy(source)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    dup = (multi_signal_clusters(spark, sf_dir, threshold)
           .select("doc_id", F.lit(1).alias("is_dup")))
    return (docs.join(dup, "doc_id", "left")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup_docs"))
            .select("source", "n_docs", "n_dup_docs",
                    (F.col("n_dup_docs") / F.col("n_docs"))
                    .alias("dup_rate")))


def dedup_keep_best(spark, sf_dir, threshold: float = 0.8,
                    clusters: "DataFrame | None" = None) -> DataFrame:
    """Canonical-document selection: for each near-dup cluster keep
    the doc with the most whitespace tokens (ties -> min doc_id).
    Integer ranking keys keep the choice bit-identical across engines
    (float quality scores tie unpredictably). One extra shuffle over
    dup_clusters: the row_number window on cluster_id; the token
    counts join map-side onto the (tiny) clustered-doc set via a
    broadcast-bounded semi-filtered read. Pass ``clusters`` to reuse an
    already-built dup_clusters result — the LSH candidate pipeline is
    the dominant cost, and callers that need both tables (corpus_select)
    must not run it twice."""
    if clusters is None:
        clusters = dup_clusters(spark, sf_dir, threshold)
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc()))
    ranked = (clusters.join(toks, "doc_id")
              .withColumn("rn", F.row_number().over(w)))
    return (ranked.filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("keep_doc_id"),
                    "cluster_size", "n_tokens"))


# ---------------------------------------------------------------------------
# Quality filters (repetition) and benchmark decontamination
# ---------------------------------------------------------------------------

def repetition_stats(spark, sf_dir) -> DataFrame:
    """Gopher-style repetition signals per doc: distinct-token ratio,
    fraction of tokens taken by the most frequent token, and fraction
    taken by the most frequent bigram (null when the doc has a single
    token). Training pipelines threshold these to drop boilerplate and
    degenerate repetition.

    Scale shape (r6 single-pass): tokens and bigrams explode in ONE
    kind-tagged Generate feeding one (doc, kind, gram) rollup with
    map-side partial aggregation, then one groupBy(doc) — two slim
    exchanges, one scan (the old two-chain + left-join form scanned
    and exploded the corpus twice and exchanged four times). Ratios
    divide exact integer counts, so IEEE-754 division makes them
    bit-identical across engines."""
    w = F.split("text", " ")
    bigrams = F.expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), "
        "(a, b) -> concat(a, ' ', b))")
    tagged = F.concat(
        F.transform("w", lambda t: F.struct(F.lit(0).alias("kind"),
                                            t.alias("g"))),
        F.transform(bigrams, lambda b: F.struct(F.lit(1).alias("kind"),
                                                b.alias("g"))))
    d = (_docs(spark, sf_dir).select("doc_id", w.alias("w"))
         .select("doc_id", F.size("w").alias("n_tokens"),
                 F.explode(tagged).alias("kg"))
         .select("doc_id", "n_tokens", "kg.kind", "kg.g"))
    per = (d.groupBy("doc_id", "n_tokens", "kind", "g")
           .agg(F.count("*").alias("c")))
    stats = (per.groupBy("doc_id", "n_tokens")
             .agg(F.sum(F.when(F.col("kind") == 0, 1).otherwise(0))
                  .alias("n_distinct"),
                  F.max(F.when(F.col("kind") == 0, F.col("c")))
                  .alias("top_c"),
                  F.max(F.when(F.col("kind") == 1, F.col("c")))
                  .alias("top_bg_c")))
    return stats.select(
        "doc_id", "n_tokens",
        (F.col("n_distinct") / F.col("n_tokens"))
        .alias("distinct_token_ratio"),
        (F.col("top_c") / F.col("n_tokens"))
        .alias("top_token_frac"),
        (F.col("top_bg_c") / (F.col("n_tokens") - 1))
        .alias("top_bigram_frac"))


def decontam_overlap(spark, sf_dir, n: int = 4,
                     bench_mod: int = 97) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with a held-out benchmark set (the standard 13-gram-overlap
    check of LLM pipelines, n=4 here because the synthetic docs are
    short). The benchmark stands in deterministically as the docs with
    doc_id % bench_mod == 0. Returns one row per contaminated doc:
    (doc_id, n_hits = distinct shared n-grams, n_bench_docs = distinct
    benchmark docs hit).

    Scale shape: a real benchmark is megabytes against a 100-TB
    corpus, so its distinct n-gram set broadcasts and the check is a
    map-side broadcast join on the gram — the corpus never shuffles.
    Grams are hashed so the broadcast table and the distincts carry
    8-byte xxhash64 keys, not raw text (no hash reaches the output —
    the twin compares counts of equal grams)."""
    docs = _docs(spark, sf_dir)
    is_bench = F.col("doc_id") % bench_mod == 0
    bench = (_ngrams(docs.filter(is_bench), n)
             .select(F.xxhash64("gram").alias("gh"),
                     F.col("doc_id").alias("bench_doc_id"))
             .distinct())
    # r6: no corpus-side .distinct() — both output aggregates are
    # countDistinct, so duplicate (doc_id, gram) occurrences cannot
    # change them, and the distinct's full-corpus-gram exchange (the
    # plan's only corpus shuffle) is pure cost. The corpus gram stream
    # now flows map-only into the broadcast join; dedup happens inside
    # the final aggregate over the (tiny) matched rows.
    corpus = (_ngrams(docs.filter(~is_bench), n)
              .select("doc_id", F.xxhash64("gram").alias("gh")))
    return (corpus.join(F.broadcast(bench), "gh")
            .groupBy("doc_id")
            .agg(F.countDistinct("gh").alias("n_hits"),
                 F.countDistinct("bench_doc_id").alias("n_bench_docs")))


# ---------------------------------------------------------------------------
# PII redaction and paragraph-level exact dedup
# ---------------------------------------------------------------------------

# All three patterns are lookaround-free and backreference-free, so
# Java regex (Spark codegen) and RE2 (DuckDB twin) match identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d-\d{3}-\d{4}"
PARA_TOKENS = 8


DUP_SPAN_N = 8


def dup_span_stats(spark, sf_dir, n: int = DUP_SPAN_N) -> DataFrame:
    """Sliding duplicated-span profile (the Lee et al. '21 exact-
    substring-dedup signal, windowed): for every doc, the fraction of
    its n-token windows that also occur in at least one OTHER doc —
    high values flag memorization-risk boilerplate that chunk-level
    dedup (paragraph_dedup's fixed 8-token chunks) misses when spans
    straddle chunk boundaries. Emits (doc_id, n_spans, n_dup_spans,
    dup_span_frac); exact integers + one IEEE division.

    Scale shape: window occurrences keyed by hash; one groupBy(gh)
    computing the distinct-doc count (map-side partial), re-joined to
    the occurrence stream on the same uniform key, then one
    groupBy(doc_id). Gram text never shuffles — only its hash, and
    since no hash ever reaches the output (the twin compares counts),
    this uses 8-byte xxhash64 keys per the module's hash-portability
    policy instead of 32-char md5 — measured ~10% off the wall at
    sf0.1 from the narrower exchange."""
    docs = _docs(spark, sf_dir)
    g = _ngrams(docs, n).select("doc_id", F.xxhash64("gram").alias("gh"))
    # r6 single-pass shape: the old groupBy(gh)+join-back evaluated
    # the scan+explode subtree TWICE (once per join side — plan-
    # verified, plans/r06/dup_span_stats_before.txt). Pre-aggregate to
    # one row per (gh, doc) with the occurrence count (map-side
    # partial), read the distinct-doc count as a window COUNT over gh
    # (rows of `per` ARE the distinct docs), then roll up per doc —
    # one Generate, three slim exchanges, no broadcast build.
    per = g.groupBy("gh", "doc_id").agg(F.count("*").alias("k"))
    tagged = per.withColumn(
        "nd", F.count("*").over(Window.partitionBy("gh")))
    return (tagged.groupBy("doc_id")
            .agg(F.sum("k").alias("n_spans"),
                 F.sum(F.when(F.col("nd") > 1, F.col("k")).otherwise(0))
                 .alias("n_dup_spans"))
            .select("doc_id", "n_spans", "n_dup_spans",
                    (F.col("n_dup_spans") / F.col("n_spans"))
                    .alias("dup_span_frac")))


def dup_span_removal(spark, sf_dir, n: int = DUP_SPAN_N) -> DataFrame:
    """Exact-substring-dedup REMOVAL accounting (the action side of
    dup_span_stats' signal, after Lee et al. '21): treat every
    occurrence of an n-token window except its global first (ordered
    by (doc_id, pos)) as removable, and report per doc how many of
    its tokens are covered by at least one removable window —
    i.e. exactly what a keep-first span dedup would delete. Emits
    (doc_id, n_tokens, n_dup_tokens, dup_token_frac).

    Scale shape: the global-first owner per window is min(struct(
    doc_id, pos)) — map-side-combinable like the crawl's J5 first-seen
    dedup, so the shuffle carries ~distinct-gram volume; the n-way
    coverage explode runs only over REMOVABLE occurrences (the dup
    tail, not the corpus); the distinct-position count is one
    aggregate keyed by doc. Gram text never shuffles — 8-byte
    xxhash64 keys per the module hash-portability policy (no hash
    reaches the output; the twin groups by gram text)."""
    docs = _docs(spark, sf_dir)
    w = F.split("text", " ")
    base = (docs.filter(F.size(w) >= n)
            .select("doc_id", w.alias("w")))
    occ = (base.select(
        "doc_id",
        F.posexplode(_gram_arr(F.col("w"), n)).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                F.xxhash64("gram").alias("gh")))
    # r6 single-pass shape (same rewrite as paragraph_dedup): the
    # global-first owner is a window MIN over gh instead of a
    # groupBy + join-back that evaluated the n-gram explode twice.
    first = F.min(F.struct("doc_id", "pos")) \
        .over(Window.partitionBy("gh")).alias("first")
    dup = (occ.withColumn("first", first)
           .filter(~((F.col("doc_id") == F.col("first.doc_id"))
                     & (F.col("pos") == F.col("first.pos")))))
    covered = dup.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + (n - 1))).alias("tpos"))
    per = covered.groupBy("doc_id").agg(
        F.count_distinct("tpos").alias("n_dup_tokens"))
    return (base.select("doc_id", F.size("w").cast("long")
                        .alias("n_tokens"))
            .join(per, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("long")
                    .alias("n_dup_tokens"))
            .withColumn("dup_token_frac",
                        F.col("n_dup_tokens") / F.col("n_tokens")))


def dup_span_removal_oracle_sql(n: int = DUP_SPAN_N) -> str:
    gram = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]"
                              for k in range(n))
    return (
        "WITH d AS (SELECT doc_id, string_split(text, ' ') AS w "
        f"FROM documents WHERE len(string_split(text, ' ')) >= {n}), "
        "occ AS (SELECT doc_id, i AS pos, " + gram + " AS gram "
        f"FROM d, unnest(range(1, len(w) - {n - 2})) AS t(i)), "
        "r AS (SELECT doc_id, pos, row_number() OVER ("
        "PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM occ), "
        "cov AS (SELECT DISTINCT doc_id, tpos FROM r, "
        f"unnest(range(pos, pos + {n})) AS u(tpos) WHERE rn > 1), "
        "per AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov "
        "GROUP BY doc_id) "
        "SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens, "
        "CAST(coalesce(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens, "
        "coalesce(p.n_dup_tokens, 0) / len(d.w) AS dup_token_frac "
        "FROM d LEFT JOIN per p ON d.doc_id = p.doc_id")


RARITY_SCALE = 1_000  # mean surprisal reported on an exact e3 grid


def rarity_score(spark, sf_dir) -> DataFrame:
    """Unigram-LM rarity filter (the transcendental-free stand-in for
    perplexity-based quality filtering): a token occurring with corpus
    frequency f out of T total tokens carries surprisal ~ -log2(f/T);
    here it is the EXACT integer ``bitwidth(T) - bitwidth(f)`` (binary
    magnitude gap — length(bin(x)) in Spark == length(printf('%b',x))
    in DuckDB, both exact for x>0, no float log anywhere). Per doc:
    token count, surprisal sum, and the e3-grid mean — high means =
    rare vocabulary (gibberish or OOD content), low = boilerplate; the
    two tails are what an LM-based corpus filter trims.

    Scale shape (r6 single-pass): ONE token-explode; the corpus
    frequency of each occurrence is a window COUNT over the uniform
    8-byte xxhash64 token key (hash-portability policy — no hash
    reaches the output) instead of a groupBy + join-back that
    evaluated the explode twice; then one groupBy(doc_id). Total T
    collapses to a map-only 1-row aggregate (sum of per-doc token
    counts — no explode) broadcast like bm25's stats."""
    docs = _docs(spark, sf_dir)
    occ = (docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("tok"))
           .select("doc_id", F.xxhash64("tok").alias("th")))
    tot = docs.agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("t"))
    scored = (occ.withColumn("f", F.count("*").over(
                  Window.partitionBy("th")))
              .crossJoin(F.broadcast(tot))
              .select("doc_id",
                      (F.length(F.bin(F.col("t")))
                       - F.length(F.bin(F.col("f"))))
                      .cast("long").alias("s")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("s").alias("surprisal_sum"))
            .withColumn("mean_surprisal_e3",
                        F.expr(f"(surprisal_sum * {RARITY_SCALE}) "
                               "div n_tokens")))


def rarity_score_oracle_sql() -> str:
    return (
        "WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) "
        "AS tok FROM documents), "
        "freq AS (SELECT tok, count(*) AS f FROM occ GROUP BY tok), "
        "tot AS (SELECT CAST(sum(f) AS BIGINT) AS t FROM freq), "
        "s AS (SELECT o.doc_id, "
        "CAST(length(printf('%b', (SELECT t FROM tot))) "
        "- length(printf('%b', fr.f)) AS BIGINT) AS s "
        "FROM occ o JOIN freq fr ON o.tok = fr.tok) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(sum(s) AS BIGINT) AS surprisal_sum, "
        f"(CAST(sum(s) AS BIGINT) * {RARITY_SCALE}) // count(*) "
        "AS mean_surprisal_e3 "
        "FROM s GROUP BY doc_id")


def _with_pii(docs):
    """Deterministic PII augmentation: every doc gains one email, one
    IPv4 and one phone number derived from doc_id (the same
    synthetic-derivation convention the host queries use for
    user_id % 32), so redaction is exercised on every row and both
    engines synthesize byte-identical input."""
    did = F.col("doc_id")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"),
        F.lit("@mail"), (did % 7).cast("string"), F.lit(".com ip 10."),
        (did % 200).cast("string"), F.lit(".0."),
        (did % 250).cast("string"), F.lit(" tel +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    return docs.select("doc_id", pii.alias("text"))


def pii_redact(spark, sf_dir) -> DataFrame:
    """PII scrubbing (the Dolma/CCNet pre-training hygiene pass):
    count and replace emails, then IPv4s, then phone numbers — in that
    order, so the dotted email domain can never be double-counted as
    an address. Returns per-doc counts plus md5 of the redacted text
    (slim 32-byte column instead of re-shipping the payload).

    Scale shape: map-only, three native regexp_count/regexp_replace
    pairs in one codegen stage — no shuffle, no UDF, no Python."""
    d = _with_pii(_docs(spark, sf_dir))
    n_emails = F.regexp_count("text", F.lit(PII_EMAIL_RE))
    t1 = F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]")
    n_ips = F.regexp_count(t1, F.lit(PII_IPV4_RE))
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "[IP]")
    n_phones = F.regexp_count(t2, F.lit(PII_PHONE_RE))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "[PHONE]")
    return d.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        F.md5(t3).alias("redacted_md5"),
    )


def paragraph_dedup(spark, sf_dir, k: int = PARA_TOKENS) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet/RefinedWeb line-dedup
    pass): documents split into fixed ``k``-token paragraphs; only the
    globally first occurrence of each paragraph (by (doc_id, pos)) is
    kept. Returns one row per paragraph: (doc_id, pos, para_hash,
    keep) — downstream reassembles surviving text by filtering keep
    and concatenating in pos order.

    Scale shape: chunking is a map-only array transform; paragraphs
    shuffle ONCE as 32-byte md5 keys (never the text) into a window
    MIN over para_hash (r6 — the prior min-groupBy + join-back
    evaluated the chunk explode twice and sorted twice). The struct
    key is exact for any (doc_id, pos): no packing, no per-doc
    paragraph-count bound (a BIGINT doc_id*K+pos packing silently
    corrupts ordering once a document exceeds K paragraphs)."""
    return paragraph_dedup_df(_docs(spark, sf_dir), k)


def paragraph_dedup_df(docs: DataFrame, k: int = PARA_TOKENS) -> DataFrame:
    """Core of paragraph_dedup over any (doc_id, text) frame — split
    out so tests can drive it with adversarial shapes (e.g. a document
    with >10k paragraphs, which broke the retired BIGINT packing)."""
    d = docs.select(
        "doc_id", F.split("text", " ").alias("arr"))
    chunks = (d.select("doc_id", F.posexplode(F.expr(
        f"transform(sequence(1, cast(ceil(size(arr) / {k}.0) as int)), "
        f"i -> array_join(slice(arr, (i - 1) * {k} + 1, {k}), ' '))"))
        .alias("pos0", "para"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                F.md5("para").alias("para_hash")))
    # r6 single-pass shape: the old min-struct groupBy + join-back
    # evaluated the chunk explode (split + slice + array_join + md5
    # per paragraph) TWICE and ran two SortAggregates (min over struct
    # is not hash-aggregable); the global first is instead read as a
    # window MIN over para_hash — one Generate, one exchange, one
    # sort. Same key, same comparison, bit-identical `keep`.
    key = F.struct("doc_id", "pos")
    first_key = F.min(key).over(Window.partitionBy("para_hash"))
    return chunks.select("doc_id", "pos", "para_hash",
                         (key == first_key).alias("keep"))


N_EXPORT_SHARDS = 16


def export_shards(spark, sf_dir, n_shards: int = N_EXPORT_SHARDS
                  ) -> DataFrame:
    """Training-shard export manifest: assign every doc a
    deterministic output shard (salted-md5 hash — uniform, stable
    under corpus growth and task order) and emit per-shard accounting
    plus a CONTENT DIGEST (md5 over the docs' md5s in doc_id order).
    The digest is the reproducibility receipt: two exports of the
    same corpus — different cluster, different partitioning — must
    byte-match, which is how a 100-TB tokenizer-feed job proves its
    output unchanged without re-reading it.

    Scale shape: one hash shuffle on shard_id (uniform by
    construction — no skew); the order-sensitive digest is computed
    from sort_array over collected (doc_id, md5) structs, bounded per
    shard (docs/shard ~ corpus/n_shards; pick n_shards so a shard's
    hash list fits an executor — 64k shards at 100 TB)."""
    docs = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
             % n_shards)
    per = docs.select(
        shard.alias("shard_id"), "doc_id",
        F.md5("text").alias("doc_md5"),
        F.length("text").alias("n_chars"))
    return (per.groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("chars_sum"),
                 F.md5(F.concat_ws("", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("doc_id", "doc_md5"))),
                     lambda s: s["doc_md5"]))).alias("digest")))


def export_shards_oracle_sql(n_shards: int = N_EXPORT_SHARDS) -> str:
    return (
        "SELECT (('0x' || substring(md5('shard|' || doc_id), 1, 4))"
        f"::INT % {n_shards}) AS shard_id, "
        "count(*) AS n_docs, "
        "CAST(sum(length(text)) AS BIGINT) AS chars_sum, "
        "md5(string_agg(md5(text), '' ORDER BY doc_id)) AS digest "
        "FROM documents GROUP BY 1")


MIX_SCALE = 1_000_000  # e6 fixed-point sampling-rate grid


def mixture_sample(spark, sf_dir) -> DataFrame:
    """Source-mixing epoch expansion (the step after the mixing
    decision): given per-source weights, compute each source's e6
    fixed-point per-doc sampling rate for an epoch of N total docs,
    then realize it deterministically — every doc gets
    ``rate_e6 div 1e6`` whole copies plus one extra iff its salted-md5
    bucket falls under ``rate_e6 mod 1e6``. Stochastic-rounding by
    hash, so the expansion is exactly reproducible (same doc set ->
    same epoch) and E[n_expanded] matches the target mix with
    per-source error < 1 doc ... all in BIGINT (cross-engine exact,
    no floats). Weights here are a deterministic 1..5 derived from
    md5(source) — the stand-in for a user-supplied mixing table.

    100-TB shape: two bounded aggregates (one per-source count -> a
    ~n_sources-row broadcast rate dim) and one map-only per-doc copy
    computation folded into the final per-source rollup — a single
    hash shuffle on `source`, no row explosion (the expansion is
    accounted, not materialized; a writer would `explode` the copies
    column per partition)."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    per_src = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = (F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10)
         .cast("long") % 5 + 1)
    per_src = per_src.withColumn("w", w)
    totals = per_src.agg(F.sum("w").alias("tot_w"),
                         F.sum("n_docs").alias("tot_n"))
    rates = (per_src.crossJoin(F.broadcast(totals))
             .withColumn("rate_e6",
                         F.expr(f"(w * tot_n * {MIX_SCALE}) "
                                "div (tot_w * n_docs)"))
             .select("source", "n_docs", "rate_e6"))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % MIX_SCALE)
    per_doc = (docs.join(F.broadcast(rates.select("source", "rate_e6")),
                         "source")
               .withColumn("copies",
                           F.expr(f"rate_e6 div {MIX_SCALE}")
                           + (bucket < F.col("rate_e6") % MIX_SCALE)
                           .cast("long")))
    return (per_doc.groupBy("source")
            .agg(F.sum("copies").alias("n_expanded"))
            .join(F.broadcast(rates), "source")
            .select("source", "n_docs", "rate_e6", "n_expanded"))


def mixture_sample_oracle_sql() -> str:
    s = MIX_SCALE
    return (
        "WITH stats AS (SELECT source, count(*) AS n_docs, "
        "1 + ('0x' || substring(md5(source), 1, 4))::BIGINT % 5 AS w "
        "FROM documents GROUP BY 1), "
        "tot AS (SELECT SUM(w) AS tot_w, SUM(n_docs) AS tot_n "
        "FROM stats), "
        f"rates AS (SELECT source, n_docs, (w * tot_n * {s}) "
        "// (tot_w * n_docs) AS rate_e6 FROM stats, tot), "
        f"perdoc AS (SELECT d.source, r.rate_e6 // {s} + "
        "CASE WHEN ('0x' || substring(md5('mix|' || d.doc_id), 1, 8))"
        f"::BIGINT % {s} < r.rate_e6 % {s} THEN 1 ELSE 0 END AS copies "
        "FROM documents d JOIN rates r ON d.source = r.source) "
        "SELECT r.source, r.n_docs, r.rate_e6, "
        "CAST(sum(p.copies) AS BIGINT) AS n_expanded "
        "FROM perdoc p JOIN rates r ON p.source = r.source "
        "GROUP BY r.source, r.n_docs, r.rate_e6")


def epoch_shuffle(spark, sf_dir, n_shards: int = N_EXPORT_SHARDS,
                  seed: str = "ep0") -> DataFrame:
    """Deterministic seeded global shuffle for an epoch: every doc's
    permutation key is md5(seed|doc_id), its shard is the key's top 16
    bits mod n_shards, and the per-shard digest hashes the docs' md5s
    IN PERMUTED ORDER — the reproducibility receipt for "the training
    job consumed this exact order". A new seed re-deals both shard
    assignment and intra-shard order; the same seed is byte-stable
    across clusters/partitionings (vs export_shards, whose digest is
    doc_id-ordered and seedless).

    100-TB shape: map-only key computation, ONE hash shuffle on
    shard_id (uniform by construction), per-shard sort bounded by
    docs/shard — the classic shuffle-shard-sort; no global sort and
    nothing driver-side."""
    docs = _docs(spark, sf_dir)
    perm = F.md5(F.concat(F.lit(seed), F.lit("|"),
                          F.col("doc_id").cast("string")))
    per = docs.select(
        (F.conv(F.substring(perm, 1, 4), 16, 10).cast("int")
         % n_shards).alias("shard_id"),
        perm.alias("perm"), "doc_id", F.md5("text").alias("doc_md5"))
    return (per.groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.md5(F.concat_ws("", F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("perm", "doc_id", "doc_md5"))),
                     lambda st: st["doc_md5"]))).alias("digest")))


def epoch_shuffle_oracle_sql(n_shards: int = N_EXPORT_SHARDS,
                             seed: str = "ep0") -> str:
    return (
        f"SELECT (('0x' || substring(md5('{seed}|' || doc_id), 1, 4))"
        f"::INT % {n_shards}) AS shard_id, "
        "count(*) AS n_docs, "
        "md5(string_agg(md5(text), '' "
        f"ORDER BY md5('{seed}|' || doc_id), doc_id)) AS digest "
        "FROM documents GROUP BY 1")


def source_stats(spark, sf_dir) -> DataFrame:
    """Per-source corpus profile (the mixing-decision input): doc
    count, char volume, exact-integer mean length (e3 grid), distinct
    languages. One map-side-combinable shuffle; lang cardinality via
    count_distinct (exact — the source×lang domain is bounded)."""
    docs = _docs(spark, sf_dir)
    return (docs.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("chars_sum"),
                 F.countDistinct("lang").alias("n_langs"))
            .withColumn("mean_chars_e3",
                        F.expr("CAST((chars_sum * 1000) DIV n_docs "
                               "AS BIGINT)")))


def source_stats_oracle_sql() -> str:
    return (
        "SELECT source, count(*) AS n_docs, "
        "CAST(sum(length(text)) AS BIGINT) AS chars_sum, "
        "count(DISTINCT lang) AS n_langs, "
        "CAST((sum(length(text)) * 1000) // count(*) AS BIGINT) "
        "AS mean_chars_e3 "
        "FROM documents GROUP BY source")


def vocab_stats(spark, sf_dir) -> DataFrame:
    """Heaps-law vocabulary profile per source: distinct-token count
    (vocab_size), total token count, hapax count (tokens seen exactly
    once in the source) and the type/token ratio. Corpus curation uses
    these to spot template-generated or OCR-garbage sources (vocab
    too small / hapax rate too high for the token mass).

    Scale shape: one explode + groupBy(source, tok) with map-side
    partial agg (the big shuffle keys on (source, token) — uniform),
    then a tiny groupBy(source). All counts are exact integers; the
    ratio is one IEEE division of those integers, so the row is
    bit-identical cross-engine."""
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(F.split("text", " ")).alias("tok"))
    per_tok = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    return (per_tok.groupBy("source")
            .agg(F.count("*").alias("vocab_size"),
                 F.sum("c").alias("total_tokens"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .alias("hapax_count"))
            .select("source", "vocab_size", "total_tokens", "hapax_count",
                    (F.col("vocab_size") / F.col("total_tokens"))
                    .alias("type_token_ratio")))


def vocab_stats_oracle_sql() -> str:
    return (
        "WITH toks AS (SELECT source, unnest(string_split(text, ' ')) "
        "AS tok FROM documents), "
        "pt AS (SELECT source, tok, count(*) AS c FROM toks "
        "GROUP BY source, tok) "
        "SELECT source, count(*) AS vocab_size, "
        "CAST(sum(c) AS BIGINT) AS total_tokens, "
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS hapax_count, "
        "count(*) / CAST(sum(c) AS BIGINT) AS type_token_ratio "
        "FROM pt GROUP BY source")


def source_ngram_overlap(spark, sf_dir, n: int = 4) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct word n-grams they share and the Jaccard overlap of
    their n-gram sets. Train/eval splits drawn from different sources
    silently leak when two sources republish the same pages — this is
    the source-level analog of decontam_overlap's doc-level check.

    Scale shape: distinct (source, md5(gram)) per source (explode +
    partial-agg distinct), a self EQUI-join keyed on the 32-byte gram
    hash (source_a < source_b — never a cross join; collision load per
    gram is bounded by the source count, not the corpus), then a tiny
    groupBy over source pairs joined against per-source set sizes. The
    token array is its own column (see _ngrams)."""
    toks = (_docs(spark, sf_dir)
            .select("source", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= n))
    grams = (toks.select(
        "source", F.explode(_gram_arr(F.col("w"), n)).alias("gram"))
        .select("source", F.md5("gram").alias("gh"))
        .distinct())
    sizes = grams.groupBy("source").agg(F.count("*").alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                     & (F.col("a.source") < F.col("b.source")))
              .groupBy(F.col("a.source").alias("source_a"),
                       F.col("b.source").alias("source_b"))
              .agg(F.count("*").alias("n_shared")))
    return (shared
            .join(sizes.select(F.col("source").alias("source_a"),
                               F.col("n").alias("n_a")), "source_a")
            .join(sizes.select(F.col("source").alias("source_b"),
                               F.col("n").alias("n_b")), "source_b")
            .select("source_a", "source_b", "n_shared", "n_a", "n_b",
                    (F.col("n_shared")
                     / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
                    .alias("jaccard")))


def source_ngram_overlap_oracle_sql(n: int = 4) -> str:
    gram = (" || ' ' || ".join(f"w[i+{k}]" for k in range(n))
            .replace("w[i+0]", "w[i]"))
    return (
        f"WITH g AS (SELECT DISTINCT source, md5(unnest(list_transform("
        f"range(1, len(w) - {n - 2}), i -> {gram}))) AS gh "
        "FROM (SELECT source, string_split(text, ' ') AS w FROM documents "
        f"WHERE len(string_split(text, ' ')) >= {n})), "
        "sizes AS (SELECT source, count(*) AS n FROM g GROUP BY source), "
        "shared AS (SELECT a.source AS source_a, b.source AS source_b, "
        "count(*) AS n_shared FROM g a JOIN g b ON a.gh = b.gh "
        "AND a.source < b.source GROUP BY 1, 2) "
        "SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b, "
        "n_shared / (sa.n + sb.n - n_shared) AS jaccard "
        "FROM shared JOIN sizes sa ON sa.source = source_a "
        "JOIN sizes sb ON sb.source = source_b")


def length_percentiles(spark, sf_dir) -> DataFrame:
    """Exact per-source doc-length quartiles — corpus profiling for
    truncation/packing decisions. Percentile rule stated explicitly
    (idx_q = (n-1)*q // 100 over the (length, doc_id)-sorted order)
    instead of an engine's approximate or interpolating quantile, so
    DuckDB and Spark agree bit-for-bit and the number means the same
    thing at any scale.

    Scale shape: one hash shuffle on source; the rank window sorts
    within a source's partition only (never a global sort). A skewed
    mega-source is the known limit — the two-phase approach in
    operators/rank.py is the documented escalation."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.length("text"), "doc_id")
    l = _docs(spark, sf_dir).select(
        "source", F.length("text").alias("len"), "doc_id",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n"))

    def pick(q):
        return F.max(F.when(
            F.col("rn") == F.expr(f"(n - 1) * {q} DIV 100"),
            F.col("len"))).cast("bigint").alias(f"p{q}")

    return (l.groupBy("source")
            .agg(F.max("n").alias("n_docs"),
                 pick(25), pick(50), pick(75)))


def length_percentiles_oracle_sql() -> str:
    picks = ", ".join(
        f"CAST(max(CASE WHEN rn = (n - 1) * {q} // 100 THEN len END) "
        f"AS BIGINT) AS p{q}" for q in (25, 50, 75))
    return (
        "WITH l AS (SELECT source, length(text) AS len, doc_id, "
        "row_number() OVER (PARTITION BY source "
        "ORDER BY length(text), doc_id) - 1 AS rn, "
        "count(*) OVER (PARTITION BY source) AS n FROM documents) "
        f"SELECT source, max(n) AS n_docs, {picks} FROM l "
        "GROUP BY source")


SPLIT_TRAIN_PCT = 80        # bucket < 80        -> train
SPLIT_VAL_PCT = 90          # 80 <= bucket < 90  -> val; else test


def stratified_sample(spark, sf_dir) -> DataFrame:
    """Deterministic train/val/test assignment + per-source quota
    sampling — the split/mixing step of a training-data pipeline,
    with no RNG state (reproducible across reruns, engines, and
    cluster sizes; splitting 100 TB must not depend on task order).

    Two independent salted md5 buckets per doc:
    - ``bucket``  (salt 'split|'): 0-99 -> train/val/test by the
      80/90 thresholds (a stable holdout: a doc never migrates
      between splits when the corpus grows);
    - ``keep``    (salt 'keep|'): per-source downsampling quota —
      rate_pct(source) = 50 + (source number % 5) * 10, the
      source-mixing knob (each source contributes a deterministic
      fraction).

    Scale shape: map-only column algebra (md5 + hex→int + compares),
    whole-stage codegen, zero shuffle, zero Python."""
    docs = _docs(spark, sf_dir)

    def bucket(salt):
        h = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
        return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % 100)

    rate = (F.substring("source", 4, 10).cast("int") % 5) * 10 + 50
    b = bucket("split|")
    return docs.select(
        "doc_id", "source",
        b.alias("bucket"),
        F.when(b < SPLIT_TRAIN_PCT, "train")
         .when(b < SPLIT_VAL_PCT, "val")
         .otherwise("test").alias("split"),
        (bucket("keep|") < rate).alias("keep"))


def stratified_sample_oracle_sql() -> str:
    def bucket(salt):
        return (f"(('0x' || substring(md5('{salt}' || doc_id), 1, 4))"
                "::INT % 100)")
    b = bucket("split|")
    return (
        f"SELECT doc_id, source, {b} AS bucket, "
        f"CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {b} < {SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END AS split, "
        f"{bucket('keep|')} < "
        "(CAST(substring(source, 4) AS INT) % 5) * 10 + 50 AS keep "
        "FROM documents")


TOP_TERMS_K = 5


def top_terms(spark, sf_dir, k: int = TOP_TERMS_K) -> DataFrame:
    """Per-source distinctive terms: top-k non-stopword tokens per
    source ranked tf-idf-style but integer-deterministic — tf DESC
    (term frequency in the source), then df ASC (document frequency
    across the corpus: rarer wins the tie), then term ASC. Corpus
    profiling for source weighting/mixing decisions; avoiding the
    float ln() of classical idf keeps the ranking bit-identical
    across engines.

    Scale shape (r6 single-pass): ONE token explode collapses into a
    (term, doc) rollup with map-side partial aggregation (a doc has
    exactly one source, so the source rides as min()); per-term df is
    a window COUNT over that rollup's rows (they ARE the distinct
    (term, doc) pairs), tf the per-(source, term) sum — the term-hash
    partitioning already satisfies the grouping, so no extra exchange
    — and the top-k rank runs over the vocab-bounded table. The old
    tf ⨝ df form scanned and exploded the corpus twice."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", "source",
                       F.explode(F.split("text", " ")).alias("term"))
    toks = toks.filter(~F.col("term").isin(*STOPWORDS_EN))
    per = (toks.groupBy("term", "doc_id")
           .agg(F.min("source").alias("source"),
                F.count("*").alias("c")))
    per = per.withColumn(
        "df", F.count("*").over(Window.partitionBy("term")))
    tf = (per.groupBy("term", "source", "df")
          .agg(F.sum("c").alias("tf")))
    w = (Window.partitionBy("source")
         .orderBy(F.col("tf").desc(), F.col("df").asc(),
                  F.col("term").asc()))
    return (tf.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("source", "term", "tf", "df", "rank"))


# ---------------------------------------------------------------------------
# End-to-end training-set selection
# ---------------------------------------------------------------------------

CS_MIN_TOKENS = 25
CS_MAX_TOKENS = 95
CS_MIN_DISTINCT_RATIO = 0.35
CS_MAX_TOP_TOKEN_FRAC = 0.125


def corpus_select(spark, sf_dir) -> DataFrame:
    """The pipeline verdict: one row per document with each gate's
    boolean and the final keep decision — length bounds, Gopher
    repetition thresholds, predicted-language filter, near-dup
    canonicalization (only a cluster's keeper survives), and benchmark
    decontamination (contaminated docs and the benchmark itself
    dropped). This is the query a training run actually consumes; the
    per-gate booleans are the audit trail for ablations.

    Scale shape: every input is one of the existing per-doc signal
    tables (slim (doc_id, value) rows), left-joined on the uniform
    doc_id key — co-partitioned hash joins; AQE coalesces the tiny
    cluster/contamination sides to broadcasts at runtime. The ratio
    thresholds compare IEEE-754 divisions of exact integer counts, so
    the verdict is bit-identical across engines."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    rep = repetition_stats(spark, sf_dir).select(
        "doc_id", "n_tokens", "distinct_token_ratio", "top_token_frac")
    lang = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    clusters_df = dup_clusters(spark, sf_dir)
    clustered = clusters_df.select(
        "doc_id", F.lit(True).alias("in_cluster"))
    keepers = dedup_keep_best(spark, sf_dir, clusters=clusters_df).select(
        F.col("keep_doc_id").alias("doc_id"),
        F.lit(True).alias("is_keeper"))
    contam = decontam_overlap(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("contaminated"))
    j = (docs.join(rep, "doc_id", "left")
         .join(lang, "doc_id", "left")
         .join(clustered, "doc_id", "left")
         .join(keepers, "doc_id", "left")
         .join(contam, "doc_id", "left"))
    keep_tokens = F.col("n_tokens").between(CS_MIN_TOKENS, CS_MAX_TOKENS)
    keep_rep = ((F.col("distinct_token_ratio") >= CS_MIN_DISTINCT_RATIO)
                & (F.col("top_token_frac") <= CS_MAX_TOP_TOKEN_FRAC))
    # target-language gate: the source label and our classifier must
    # AGREE on the target language (pipelines cross-check the upstream
    # CLD label against their own n-gram model before trusting either)
    keep_lang = (F.col("lang") == "en") & (F.col("pred_lang") == "en")
    keep_dup = (~F.coalesce("in_cluster", F.lit(False))
                | F.coalesce("is_keeper", F.lit(False)))
    keep_dec = (~F.coalesce("contaminated", F.lit(False))
                & (F.col("doc_id") % 97 != 0))
    return j.select(
        "doc_id",
        keep_tokens.alias("keep_tokens"),
        keep_rep.alias("keep_repetition"),
        keep_lang.alias("keep_lang"),
        keep_dup.alias("keep_dup"),
        keep_dec.alias("keep_decontam"),
        (keep_tokens & keep_rep & keep_lang & keep_dup
         & keep_dec).alias("keep"))


# ---------------------------------------------------------------------------
# BM25 keyword search

BM25_TERMS = ("spark", "hash", "window")   # fixture query, fixed order
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 50


def bm25_topk(spark, sf_dir) -> DataFrame:
    """BM25 keyword search: top-k documents for a fixed multi-term
    query — the lexical-retrieval primitive of a training-data /
    search pipeline (Robertson & Spärck Jones probabilistic ranking).

    Cross-engine bit-identity without transcendentals: the classic
    idf is ln((N-df+0.5)/(df+0.5)); ln is NOT guaranteed identically
    rounded across engines, so this uses the raw probability ratio
    (N-df+0.5)/(df+0.5) as the idf factor — rank-equivalent for the
    monotone per-term weighting and exactly reproducible, since +,*,/
    are individually IEEE-exactly-rounded and the expression tree
    (term order included) is mirrored literally in the DuckDB twin.

    100-TB shape: per-doc term frequencies come from native
    higher-order `filter` over the split token array — map-only, no
    explode, no shuffle; corpus stats (N, df per term, avg doc length)
    are ONE 1-row global aggregate broadcast back with a cross join;
    the ranking is a TakeOrdered top-k (no full sort). Ties break on
    doc_id so the boundary is deterministic."""
    docs = _docs(spark, sf_dir)
    w = F.split("text", " ")
    tf_cols = [
        F.size(F.filter(w, lambda x: x == F.lit(t))).cast("long")
        .alias(f"tf{i}") for i, t in enumerate(BM25_TERMS)]
    per_doc = docs.select("doc_id", F.size(w).cast("long").alias("dl"),
                          *tf_cols)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
          for i in range(len(BM25_TERMS))])
    j = per_doc.crossJoin(F.broadcast(stats))
    nd = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / nd
    norm = F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (
        F.col("dl").cast("double") / avgdl)
    score = None
    for i in range(len(BM25_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}").cast("double")
        idf = (nd - df + F.lit(0.5)) / (df + F.lit(0.5))
        s = idf * (tf * F.lit(BM25_K1 + 1.0)) / (
            tf + F.lit(BM25_K1) * norm)
        score = s if score is None else score + s
    return (j.select("doc_id", score.alias("score"))
            .filter(F.col("score") > 0)
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(BM25_TOPK))


def bm25_topk_oracle_sql() -> str:
    """DuckDB twin of bm25_topk — the same expression TREE (term
    order, parenthesization, cast points) so every IEEE op rounds
    identically; see bm25_topk's docstring."""
    terms = BM25_TERMS
    tf_cols = ", ".join(
        f"CAST(len(list_filter(ws, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS df{i}" for i in range(len(terms)))
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    norm = f"(0.25 + 0.75 * (CAST(dl AS DOUBLE) / {avgdl}))"
    parts = []
    for i in range(len(terms)):
        tf = f"CAST(tf{i} AS DOUBLE)"
        df = f"CAST(df{i} AS DOUBLE)"
        idf = f"((CAST(n_docs AS DOUBLE) - {df} + 0.5) / ({df} + 0.5))"
        parts.append(f"{idf} * ({tf} * 2.2) / ({tf} + 1.2 * {norm})")
    score = " + ".join(parts)
    return (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws "
        "FROM documents), "
        f"per AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, {tf_cols} "
        "FROM w), "
        "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum(dl) AS BIGINT) AS sum_dl, {df_cols} FROM per), "
        "j AS (SELECT * FROM per CROSS JOIN st) "
        f"SELECT doc_id, score FROM (SELECT doc_id, {score} AS score "
        "FROM j) WHERE score > 0 "
        f"ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}")


# ---------------------------------------------------------------------------
# Tokenize-to-ids (the final mile before training shards)

TOKENIZE_VOCAB = 256
TOKENIZE_UNK = -1


def tokenize_ids(spark, sf_dir) -> DataFrame:
    """Corpus tokenization to integer ids: fit a top-V frequency vocab
    (rank by count desc, token asc — deterministic at the V boundary),
    map every token to its id (UNK = -1), and pin each document's id
    sequence with an md5 digest over the comma-joined ids in document
    order. This is the step that turns curated text into trainer
    input; the digest makes the full sequence value-checkable without
    hashing megabyte arrays through the driver.

    100-TB shape: one explode + map-side-combinable count for the
    vocab; the id map is a broadcast join (V rows) against the token
    stream — no shuffle on the fat side; per-doc reassembly is one
    hash shuffle on doc_id with sort_array over (pos, id) structs
    (positions are per-doc, so the sort is local and bounded by doc
    length). The only driver-bounded piece is the V-row vocab rank."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), "tok").limit(TOKENIZE_VOCAB)
    w = Window.orderBy(F.col("n").desc(), "tok")
    vocab = top.select(
        "tok", (F.row_number().over(w) - 1).cast("long").alias("tid"))
    j = toks.join(F.broadcast(vocab), "tok", "left")
    ids = F.transform(
        F.sort_array(F.collect_list(F.struct(
            "pos", F.coalesce("tid", F.lit(TOKENIZE_UNK)).alias("tid")))),
        lambda s: s["tid"].cast("string"))
    return (j.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.col("tid").isNull().cast("long")).alias("n_unk"),
                 F.md5(F.concat_ws(",", ids)).alias("ids_digest")))


def tokenize_ids_oracle_sql() -> str:
    """DuckDB twin of tokenize_ids: same vocab rank rule and the same
    in-document-order digest (list(... ORDER BY pos))."""
    return (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws "
        "FROM documents), "
        "t AS (SELECT doc_id, unnest(ws) AS tok, "
        "generate_subscripts(ws, 1) AS pos FROM w), "
        "c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1), "
        "v AS (SELECT tok, CAST(row_number() OVER "
        "(ORDER BY n DESC, tok) - 1 AS BIGINT) AS tid "
        f"FROM c ORDER BY n DESC, tok LIMIT {TOKENIZE_VOCAB}), "
        "j AS (SELECT t.doc_id, t.pos, v.tid FROM t LEFT JOIN v "
        "USING (tok)) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(sum(CASE WHEN tid IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_unk, "
        "md5(array_to_string(list(CAST(COALESCE(tid, "
        f"{TOKENIZE_UNK}) AS VARCHAR) ORDER BY pos), ',')) AS ids_digest "
        "FROM j GROUP BY doc_id")


def lsh_recall(spark, sf_dir, threshold: float = 0.8,
               max_doc: int = 200) -> DataFrame:
    """Recall diagnostic of the MinHash-LSH candidate generator against
    exact n-gram Jaccard ground truth on the bounded doc range (the
    text-dedup analog of simsearch.ann_recall): one row — n_truth,
    n_candidates (bounded), n_hit, recall. This is the measurement a
    curation pipeline uses to size bands/rows before trusting LSH at
    full scale.

    recall = n_hit / n_truth divides two exact BIGINTs, so the double
    is bit-identical across engines. Scale shape: both inputs are the
    existing banded/equi-join pipelines; the comparison adds one
    equi-join on the (doc_a, doc_b) key and two 1-row aggregates."""
    truth = ngram_jaccard_pairs(spark, sf_dir, threshold, max_doc) \
        .select("doc_a", "doc_b")
    cand = (minhash_lsh_pairs(spark, sf_dir)
            .filter((F.col("doc_a") < max_doc) & (F.col("doc_b") < max_doc)))
    tl = truth.join(cand.withColumn("hit", F.lit(1)),
                    ["doc_a", "doc_b"], "left")
    st = tl.agg(F.count("*").alias("n_truth"),
                F.sum(F.coalesce("hit", F.lit(0)))
                .cast("long").alias("n_hit"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    return (st.crossJoin(F.broadcast(nc))
            .select("n_truth", "n_candidates", "n_hit",
                    (F.col("n_hit") / F.col("n_truth")).alias("recall")))


CONTAIN_THRESHOLD = 0.6


def containment_pairs(spark, sf_dir, threshold: float = CONTAIN_THRESHOLD,
                      max_doc: int = 200) -> DataFrame:
    """One-sided containment near-dup pairs over the bounded doc
    range: containment(A,B) = |shingles(A) ∩ shingles(B)| /
    min(|A|,|B|) — the Broder containment score that catches a short
    document quoted inside a long one, which symmetric Jaccard
    dilutes below threshold. Same bounded-exactness-anchor role (and
    the same _overlap_pairs self-join) as ngram_jaccard_pairs; the
    full-corpus path is allpairs_containment, which verifies only its
    prefix candidates through _verified.

    containment divides two exact BIGINTs — bit-identical doubles."""
    c = F.col("n_inter") / F.least("n_a", "n_b")
    return (_overlap_pairs(_docs(spark, sf_dir)
                           .filter(F.col("doc_id") < max_doc))
            .filter(c >= threshold)
            .select("doc_a", "doc_b", "n_inter", c.alias("containment")))


def containment_pairs_oracle_sql(threshold: float = CONTAIN_THRESHOLD,
                                 max_doc: int = 200) -> str:
    """DuckDB twin of containment_pairs (mirrors the ngram_jaccard
    twin with least() in the denominator)."""
    return (
        "WITH sh AS (SELECT DISTINCT doc_id, "
        "unnest(list_transform(range(1, len(w)-1), "
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle "
        "FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents "
        f"WHERE doc_id < {max_doc} "
        "AND len(string_split(text,' ')) >= 3)), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "count(*) AS n_inter FROM sh a JOIN sh b "
        "ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, n_inter, "
        "n_inter / least(sa.n, sb.n) AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        f"WHERE n_inter / least(sa.n, sb.n) >= {threshold}")


# Jaccard threshold 0.8 as an integer ratio: float literals like 0.8
# are not exactly representable, so the gate is cross-multiplied
# (DEN*n_inter >= NUM*(n_a+n_b-n_inter)) — exact in both engines.
ALLPAIRS_NUM = 4
ALLPAIRS_DEN = 5


def _rarity_prefix(sh: DataFrame, num: int, den: int) -> DataFrame:
    """Each doc's rarity-ordered prefix for an overlap bound of
    num/den (Bayardo et al., WWW'07): the doc's distinct shingles
    ``sh`` ranked by global doc frequency (ties by value), first
    n - ceil(num*n/den) + 1 kept -> (doc_id, shingle). Any pair whose
    overlap reaches ceil(num*n/den) of a doc's n shingles must hit that
    doc's prefix. n is a count over the rank window's own doc_id
    partition (an unbounded frame of the same window, so one Window
    node), so no per-doc size table is built or joined."""
    freq = sh.groupBy("shingle").agg(F.count("*").alias("gf"))
    w = Window.partitionBy("doc_id").orderBy("gf", "shingle")
    whole = w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    ranked = (sh.join(freq, "shingle")
              .select("doc_id", "shingle",
                      F.row_number().over(w).alias("pos"),
                      F.count("*").over(whole).alias("n")))
    # prefix_len = n - ceil(num*n/den) + 1, all in integers
    ceil_tau_n = F.expr(f"(({num} * n + {den} - 1)) DIV {den}")
    return (ranked.filter(F.col("pos") <= F.col("n") - ceil_tau_n + 1)
            .select("doc_id", "shingle"))


def allpairs_jaccard(spark, sf_dir) -> DataFrame:
    """EXACT all-pairs Jaccard >= 4/5 over the FULL corpus via prefix
    filtering (Bayardo et al., WWW'07; the TokenJoin/LCJoin family's
    baseline): order each doc's shingles by global rarity, index only
    the first n - ceil(tau*n) + 1 of them, and join on those prefix
    shingles — any pair with J >= tau MUST collide in the prefixes, so
    unlike MinHash-LSH this loses nothing, while the join touches a
    small, rare-token slice instead of every shingle. Candidates then
    go through _verified, the same gated exact verification as
    lsh_verified_pairs.

    The driver oracle is the brute-force all-pairs self-join (DuckDB,
    sf0.01) — it replicates the SEMANTICS, not the optimization, so a
    prefix-filter bug (wrong length, wrong order) shows up as a
    missing/extra pair.

    100-TB shape: rarity ranking is one count shuffle + a per-doc
    window (local top within doc_id partitions); the candidate join
    keys on rare shingles only — by construction each prefix shingle
    appears in few docs, so the equi-join is skew-resistant where a
    full shingle self-join would square the hot-shingle buckets.

    Measured crossover (sf0.1, 5000 docs, local[32]): the plain
    self-join wins 5.4s vs 18.5s here because the synthetic shingles
    are near-unique (no hot keys), so the per-doc rarity window costs
    more than the sparse join it avoids — the filter is the HIGH-SKEW
    plan (Zipfian web shingles: 'click here to', boilerplate), where
    the self-join's hot buckets grow quadratically and the prefix
    join stays linear. A production planner would gate on the max
    shingle frequency from the (already computed) freq table."""
    return allpairs_jaccard_from(_docs(spark, sf_dir))


def allpairs_jaccard_from(docs) -> DataFrame:
    """allpairs_jaccard over an arbitrary (doc_id, text) DataFrame —
    split out so the property suite can fuzz random corpora."""
    sh = shingles(docs).distinct()
    pref = _rarity_prefix(sh, ALLPAIRS_NUM, ALLPAIRS_DEN)
    a = pref.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = pref.select(F.col("doc_id").alias("doc_b"), "shingle")
    cand = (a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    gate = (F.lit(ALLPAIRS_DEN) * F.col("n_inter")
            >= F.lit(ALLPAIRS_NUM) * union)
    return (_verified(cand, docs).filter(gate)
            .select("doc_a", "doc_b", "n_inter", _jaccard().alias("jaccard")))


def allpairs_jaccard_oracle_sql() -> str:
    """Brute-force all-pairs twin (semantics, not the optimization):
    full shingle self-join + the same integer-ratio gate."""
    return (
        "WITH sh AS (SELECT DISTINCT doc_id, "
        "unnest(list_transform(range(1, len(w)-1), "
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle "
        "FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents "
        "WHERE len(string_split(text,' ')) >= 3)), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "count(*) AS n_inter FROM sh a JOIN sh b "
        "ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, n_inter, "
        "n_inter / (sa.n + sb.n - n_inter) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        f"WHERE {ALLPAIRS_DEN} * n_inter >= "
        f"{ALLPAIRS_NUM} * (sa.n + sb.n - n_inter)")


# containment threshold 3/5 = 0.6 as an exact integer ratio
CONTAIN_NUM = 3
CONTAIN_DEN = 5


def allpairs_containment(spark, sf_dir) -> DataFrame:
    """EXACT all-pairs set-containment join over the FULL corpus:
    pairs with containment |A∩B| / min(|A|,|B|) >= 3/5 (the LCJoin /
    set-containment-join problem, ICDE'19). Asymmetric prefix filter:
    with |A| <= |B| and C >= tau, the overlap is >= ceil(tau*|A|), so
    A's rarity-ordered prefix of length |A| - ceil(tau*|A|) + 1 must
    hit A∩B ⊆ B — candidates come from joining every doc's PREFIX
    against every doc's FULL shingle set (not prefix×prefix as in the
    symmetric Jaccard case, because B's intersecting token can sit
    anywhere in B). Verification is the scoped exact intersection with
    the integer-ratio gate (no float threshold compare).

    The driver oracle is the brute-force full self-join — semantics,
    not the optimization.

    100-TB shape: the candidate join keys on rare prefix shingles
    (small gf), so per-key products stay tiny where a full self-join
    squares hot shingles; verification touches candidate docs only."""
    docs = _docs(spark, sf_dir)
    sh = shingles(docs).distinct()
    pref = (_rarity_prefix(sh, CONTAIN_NUM, CONTAIN_DEN)
            .select(F.col("doc_id").alias("p_doc"), "shingle"))
    full = sh.select(F.col("doc_id").alias("f_doc"), "shingle")
    cand = (pref.join(full, "shingle")
            .filter(F.col("p_doc") != F.col("f_doc"))
            .select(F.least("p_doc", "f_doc").alias("doc_a"),
                    F.greatest("p_doc", "f_doc").alias("doc_b"))
            .distinct())
    m = F.least("n_a", "n_b")
    gate = F.lit(CONTAIN_DEN) * F.col("n_inter") >= F.lit(CONTAIN_NUM) * m
    return (_verified(cand, docs).filter(gate)
            .select("doc_a", "doc_b", "n_inter",
                    (F.col("n_inter") / m).alias("containment")))


def allpairs_containment_oracle_sql() -> str:
    """Brute-force full-corpus containment twin with the same
    integer-ratio gate."""
    return (
        "WITH sh AS (SELECT DISTINCT doc_id, "
        "unnest(list_transform(range(1, len(w)-1), "
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle "
        "FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents "
        "WHERE len(string_split(text,' ')) >= 3)), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "count(*) AS n_inter FROM sh a JOIN sh b "
        "ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, n_inter, "
        "n_inter / least(sa.n, sb.n) AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a "
        "JOIN sizes sb ON sb.doc_id = doc_b "
        f"WHERE {CONTAIN_DEN} * n_inter >= "
        f"{CONTAIN_NUM} * least(sa.n, sb.n)")


PACK_WINDOW = 512


def pack_windows(spark, sf_dir, window: int = PACK_WINDOW) -> DataFrame:
    """Sequence packing (the GPT concatenate-then-chunk trainer prep):
    documents are concatenated in doc_id order into one token stream,
    chunked into fixed ``window``-token training windows; emits one
    row per window — n_docs spanned, first/last doc, and the exact
    token count (== window everywhere but the tail). Boundary docs
    straddle windows, as in production packing.

    The global token offset is an EXCLUSIVE PREFIX SUM computed
    two-phase (range-partition by doc_id -> local cumsum -> broadcast
    per-partition carries), the operators.rank discipline — no
    single-task global window, so the plan holds at 10^10 docs. All
    outputs are exact BIGINTs."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n"))
    spark_ = d.sparkSession
    n_parts = int(spark_.conf.get("spark.sql.shuffle.partitions"))
    part = (d.repartitionByRange(n_parts, "doc_id")
            .withColumn("_pid", F.spark_partition_id()))
    w_local = Window.partitionBy("_pid").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    part = part.withColumn(
        "_lsum", F.coalesce(F.sum("n").over(w_local), F.lit(0))).persist()
    totals = part.groupBy("_pid").agg(F.sum("n").alias("_cnt"))
    w_prefix = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1)
    carries = totals.withColumn(
        "_carry", F.coalesce(F.sum("_cnt").over(w_prefix), F.lit(0)))
    s = (part.join(F.broadcast(carries.select("_pid", "_carry")), "_pid")
         .select("doc_id", "n",
                 (F.col("_carry") + F.col("_lsum")).alias("start_off")))
    s = (s.withColumn("end_off", F.col("start_off") + F.col("n"))
         .withColumn("fw", F.expr(f"start_off DIV {window}"))
         .withColumn("lw", F.expr(f"(end_off - 1) DIV {window}")))
    e = s.select("doc_id", "start_off", "end_off",
                 F.explode(F.sequence("fw", "lw")).alias("window_id"))
    lo = F.col("window_id") * window
    hi = (F.col("window_id") + 1) * window
    tok_in = (F.least(F.col("end_off"), hi)
              - F.greatest(F.col("start_off"), lo))
    out = (e.groupBy("window_id")
           .agg(F.count("*").alias("n_docs"),
                F.min("doc_id").alias("first_doc"),
                F.max("doc_id").alias("last_doc"),
                F.sum(tok_in).alias("n_tokens")))
    part.unpersist()
    return out


def pack_windows_oracle_sql(window: int = PACK_WINDOW) -> str:
    """DuckDB twin of pack_windows: single-window prefix sum (the
    semantics; the Spark side's two-phase decomposition must be
    invisible in the result)."""
    return (
        "WITH d AS (SELECT doc_id, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n "
        "FROM documents), "
        "o AS (SELECT doc_id, n, CAST(COALESCE(sum(n) OVER ("
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "1 PRECEDING), 0) AS BIGINT) AS start_off FROM d), "
        "s AS (SELECT doc_id, start_off, start_off + n AS end_off, "
        f"start_off // {window} AS fw, "
        f"(start_off + n - 1) // {window} AS lw FROM o), "
        "e AS (SELECT doc_id, start_off, end_off, "
        "unnest(range(fw, lw + 1)) AS window_id FROM s) "
        "SELECT window_id, CAST(count(*) AS BIGINT) AS n_docs, "
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc, "
        f"CAST(sum(least(end_off, (window_id + 1) * {window}) - "
        f"greatest(start_off, window_id * {window})) AS BIGINT) "
        "AS n_tokens FROM e GROUP BY 1")


CMS_D = 4    # count-min sketch: d hash rows
CMS_W = 16   # w columns (one md5 hex digit — portable to any engine)
CMS_TOPN = 50


def cms_token_counts(spark, sf_dir, d: int = CMS_D, w: int = CMS_W,
                     topn: int = CMS_TOPN) -> DataFrame:
    """Count-min sketch over the token stream (Cormode & Muthukrishnan
    '05) — the mergeable heavy-hitter structure a streaming crawler
    keeps per partition and ORs together: counters are integer SUMS,
    so sketch merge is reduction-order-independent and the estimate
    est(t) = min_r sketch[r][h_r(t)] is bit-identical across engines.
    Emits the top-N true-frequency tokens with their CMS estimate —
    est >= true always (one-sided error), and the overestimate column
    is the collision cost of compressing the whole vocabulary into
    d*w = 64 counters.

    Hash portability: h_r(t) = value of the first hex digit of
    md5('r|t') (w = 16), computable verbatim in Spark and DuckDB.

    100-TB shape: the sketch build is one map-side-combinable groupBy
    over d slim (row, col) keys — 64 result rows regardless of corpus
    size; estimates join tokens against the broadcast 64-row sketch."""
    toks = _tokens(_docs(spark, sf_dir)).select("tok")
    hexpos = "'0123456789abcdef'"

    def col_r(r):
        return F.expr(
            f"locate(substr(md5(concat('{r}|', tok)), 1, 1), {hexpos}) - 1")

    rows = None
    for r in range(d):
        part = toks.select(F.lit(r).alias("r"), col_r(r).alias("c"))
        rows = part if rows is None else rows.unionAll(part)
    sketch = rows.groupBy("r", "c").agg(F.count("*").alias("cnt"))

    true_counts = (toks.groupBy("tok").agg(F.count("*").alias("n_true"))
                   .orderBy(F.col("n_true").desc(), "tok").limit(topn))
    keyed = None
    for r in range(d):
        part = true_counts.select("tok", "n_true", F.lit(r).alias("r"),
                                  col_r(r).alias("c"))
        keyed = part if keyed is None else keyed.unionAll(part)
    est = (keyed.join(F.broadcast(sketch), ["r", "c"])
           .groupBy("tok", "n_true")
           .agg(F.min("cnt").alias("n_est")))
    return est.select("tok", "n_true", "n_est",
                      (F.col("n_est") - F.col("n_true"))
                      .alias("overestimate"))


def cms_token_counts_oracle_sql(d: int = CMS_D, w: int = CMS_W,
                                topn: int = CMS_TOPN) -> str:
    """DuckDB twin of cms_token_counts — same hex-digit hash rows,
    same integer sketch."""
    hexpos = "'0123456789abcdef'"
    hash_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, strpos({hexpos}, "
        f"substr(md5('{r}|' || tok), 1, 1)) - 1 AS c FROM t"
        for r in range(d))
    key_rows = " UNION ALL ".join(
        f"SELECT tok, n_true, {r} AS r, strpos({hexpos}, "
        f"substr(md5('{r}|' || tok), 1, 1)) - 1 AS c FROM tc"
        for r in range(d))
    return (
        "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok "
        "FROM documents), "
        f"hr AS ({hash_rows}), "
        "sk AS (SELECT r, c, CAST(count(*) AS BIGINT) AS cnt FROM hr "
        "GROUP BY r, c), "
        "tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_true FROM t "
        f"GROUP BY tok ORDER BY n_true DESC, tok LIMIT {topn}), "
        f"keyed AS ({key_rows}) "
        "SELECT tok, n_true, CAST(min(cnt) AS BIGINT) AS n_est, "
        "CAST(min(cnt) - n_true AS BIGINT) AS overestimate "
        "FROM keyed JOIN sk USING (r, c) GROUP BY tok, n_true")


KMV_K = 64
_HEX16 = "'0123456789abcdef'"


def _hex12_expr(inner: str, engine: str) -> str:
    """First 12 hex digits of md5(inner) as a BIGINT, from per-digit
    position lookups — the same arithmetic in Spark SQL and DuckDB
    (only the substring-position builtin differs: locate(needle, hay)
    vs strpos(hay, needle))."""
    terms = []
    for i in range(12):
        digit = (f"(locate(substr(md5({inner}), {i + 1}, 1), {_HEX16}) - 1)"
                 if engine == "spark" else
                 f"(strpos({_HEX16}, substr(md5({inner}), {i + 1}, 1)) - 1)")
        # digit promoted to BIGINT before the multiply: INT * INT
        # overflows under Spark ANSI for the high place values
        terms.append(f"CAST({digit} AS BIGINT) * {16 ** (11 - i)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def kmv_distinct(spark, sf_dir, k: int = KMV_K) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. '02)
    over the token vocabulary — the DETERMINISTIC cardinality sketch
    (unlike HLL whose register layout is engine-private): keep the k
    smallest 48-bit hashes; est = (k-1)·2^48 DIV h_(k), where h_(k)
    is the k-th minimum. Min-k of a set is reduction-order-independent
    and the arithmetic is all BIGINT, so both engines agree bit-
    for-bit. Emits n_true (exact distinct), k, kth_hash, n_est —
    the error the sketch would carry at 10^10-token scale where the
    exact distinct is a full shuffle and the sketch is 64 longs.

    100-TB shape: per-partition top-k mins combine map-side (the sort
    is TakeOrdered over k rows); the exact twin column is the one full
    count_distinct — the thing the sketch exists to avoid."""
    toks = _tokens(_docs(spark, sf_dir)).select("tok").distinct()
    h = F.expr(_hex12_expr("tok", "spark"))
    hk = (toks.select(h.alias("h"))
          .orderBy("h").limit(k)
          .agg(F.max("h").alias("kth_hash"),
               F.count("*").alias("k_eff")))
    nt = toks.agg(F.count("*").alias("n_true"))
    est = F.expr(f"CAST(((k_eff - 1) * {16 ** 12}) DIV kth_hash AS BIGINT)")
    return (nt.crossJoin(F.broadcast(hk))
            .select("n_true", F.col("k_eff").alias("k"), "kth_hash",
                    est.alias("n_est")))


def kmv_distinct_oracle_sql(k: int = KMV_K) -> str:
    """DuckDB twin of kmv_distinct — same 48-bit hash arithmetic,
    same min-k and integer estimate."""
    h = _hex12_expr("tok", "duckdb")
    return (
        "WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) "
        "AS tok FROM documents), "
        f"hs AS (SELECT {h} AS h FROM t), "
        f"mk AS (SELECT h FROM hs ORDER BY h LIMIT {k}), "
        "hk AS (SELECT CAST(max(h) AS BIGINT) AS kth_hash, "
        "CAST(count(*) AS BIGINT) AS k_eff FROM mk), "
        "nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM t) "
        "SELECT n_true, k_eff AS k, kth_hash, "
        f"CAST(((k_eff - 1) * {16 ** 12}) // kth_hash AS BIGINT) AS n_est "
        "FROM nt CROSS JOIN hk")
