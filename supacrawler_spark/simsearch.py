"""Embedding similarity search over the embeddings table.

Two paths (SURVEY/brief: ANN over an array<float> column):

- ``cosine_topk``: brute-force exact top-k. The dot products run
  JVM-side via ``aggregate(zip_with(...))`` — no Python in the loop.
  Scale shape: queries are broadcast (small set), the corpus scan is
  embarrassingly parallel, top-k per query is a window over
  (query, score) — at 100 TB you bound the window input with a
  per-partition top-k first (same two-phase trick as operators.rank).
- ``lsh_buckets`` / ``lsh_topk``: random-hyperplane LSH. Plane weights
  are deterministic ±1 vectors (seeded, inlined as literals so the
  DuckDB oracle uses the exact same planes). Bucketing turns the n×m
  cross product into an equi-join on (bucket), the scale path.

All arithmetic is float64 (embeddings cast from float32) so Spark and
DuckDB produce bit-identical sums (both fold the array sequentially).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8
DIM = 64


def plane_weights(n_planes: int = N_PLANES, dim: int = DIM, seed: int = 42):
    """Deterministic ±1 hyperplane weights: sign of a hash bit —
    reproducible in any engine (inlined as literals in SQL)."""
    planes = []
    for p in range(n_planes):
        w = []
        for i in range(dim):
            h = hashlib.blake2b(f"{seed}|{p}|{i}".encode(),
                                digest_size=1).digest()[0]
            w.append(1.0 if h & 1 else -1.0)
        planes.append(w)
    return planes


def _emb(spark, sf_dir):
    from supacrawler_spark.session import read_table, split_small_scan
    return split_small_scan(read_table(spark, sf_dir, "embeddings"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(spark, sf_dir, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors
    against the rest of the corpus."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v"))
    q = (emb.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")))
    c = (emb.filter(F.col("vec_id") >= n_queries)
         .select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")))
    scored = (c.crossJoin(F.broadcast(q))
              .withColumn("score",
                          _dot(F.col("qv"), F.col("cv")) /
                          (_norm(F.col("qv")) * _norm(F.col("cv")))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("score", 6).alias("score_r")))


def _bucket_expr(vcol, planes):
    """LSH bucket id: bit p = (v · w_p) >= 0."""
    bucket = F.lit(0).cast("long")
    for p, w in enumerate(planes):
        warr = F.array(*[F.lit(x) for x in w])
        dot = _dot(vcol, warr)
        bucket = bucket + F.when(dot >= 0,
                                 F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return bucket


def lsh_buckets(spark, sf_dir, n_planes: int = N_PLANES) -> DataFrame:
    """Assign every vector to its random-hyperplane bucket."""
    planes = plane_weights(n_planes)
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v"))
    return emb.select("vec_id", _bucket_expr(F.col("v"), planes)
                      .alias("bucket"))


E10 = 10_000_000_000


def _centroids(emb_labeled: DataFrame) -> DataFrame:
    """IVF coarse quantizer: per-label centroids, (label, c: double[]).

    Cross-engine determinism: per-dimension values are scaled to an
    exact integer 1e-10 grid BEFORE the distributed sum (integer sums
    are order-independent; float sums are not — the label_centroids
    lesson), then divided back to double. Both engines therefore hold
    bit-identical centroid arrays."""
    x = emb_labeled.select(
        "label", F.posexplode("v").alias("pos", "val"))
    e10 = (F.col("val").cast("decimal(20,10)")
           * F.lit(E10).cast("decimal(11,0)")).cast("bigint")
    sums = (x.select("label", "pos", e10.alias("e"))
            .groupBy("label", "pos")
            .agg(F.sum("e").alias("s"), F.count("*").alias("n")))
    cd = F.col("s").cast("double") / (F.col("n") * F.lit(E10))
    return (sums.select("label", "pos", cd.alias("cd"))
            .groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cd"))),
                lambda s: s["cd"]).alias("c")))


def ivf_topk(spark, sf_dir, n_queries: int = 20, k: int = 3,
             n_probe: int = 2) -> DataFrame:
    """ANN, IVF variant (the other scale path besides LSH): a coarse
    quantizer (deterministic per-label centroids) partitions the
    corpus into inverted lists; each query probes its ``n_probe``
    nearest centroids and exact-searches only those lists.

    Scale shape: the centroid table is tiny and BROADCAST; cell
    assignment is map-side (crossJoin against the broadcast + a
    map-side-combinable max(struct) argmax — each vector's 80
    candidate rows collapse before the exchange); the probe join is an
    equi-join on cell. No corpus self-cross anywhere. At 100 TB,
    nlist grows with corpus size and n_probe trades recall vs scan
    fraction, exactly like FAISS IVF."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    cent = _centroids(emb).select(
        F.col("label").alias("cell_label"), "c")

    scored_cells = (emb.drop("label")
                    .crossJoin(F.broadcast(cent))
                    .withColumn("score", _dot(F.col("v"), F.col("c")))
                    .withColumnRenamed("cell_label", "label"))
    # assignment: argmax score, ties -> smallest label (max struct
    # compares score then -label; map-side combinable)
    asg = (scored_cells
           .select("vec_id", F.struct(
               F.col("score"), (-F.col("label")).alias("nl")).alias("sc"))
           .groupBy("vec_id").agg(F.max("sc").alias("m"))
           .select("vec_id", (-F.col("m.nl")).alias("cell")))

    wq = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("label"))
    q_probe = (scored_cells.filter(F.col("vec_id") < n_queries)
               .withColumn("rk", F.row_number().over(wq))
               .filter(F.col("rk") <= n_probe)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv"),
                       F.col("label").alias("cell")))
    cand = (emb.filter(F.col("vec_id") >= n_queries)
            .join(asg, "vec_id")
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("cv"), "cell"))
    scored = (cand.join(q_probe, "cell")
              .withColumn("score",
                          _dot(F.col("qv"), F.col("cv")) /
                          (_norm(F.col("qv")) * _norm(F.col("cv")))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("score", 6).alias("score_r")))


NEAR_DUP_BANDS = 2
NEAR_DUP_BAND_PLANES = 4
NEAR_DUP_TAU = 0.40


def ann_recall(spark, sf_dir, n_queries: int = 20, k: int = 3) -> DataFrame:
    """Recall@k of the two ANN paths against the exact top-k — the
    approximation-quality diagnostic a pipeline publishes before
    trusting an index (per query: |ANN ∩ exact| / k for hyperplane-LSH
    and for IVF, over the same query/corpus split).

    Scale shape: the three top-k inputs keep their own shapes (exact
    brute force is the documented anchor; both ANN sides are bucket
    equi-joins); this op then LEFT-joins two k-row-per-query sets on
    (query_id, neighbor_id) — slim keys only. Counts are exact
    integers; recalls are one IEEE division each."""
    exact = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k) \
        .select("query_id", "neighbor_id")
    lsh = lsh_topk(spark, sf_dir, n_queries=n_queries, k=k) \
        .select("query_id", "neighbor_id", F.lit(1).alias("lsh_hit"))
    ivf = ivf_topk(spark, sf_dir, n_queries=n_queries, k=k) \
        .select("query_id", "neighbor_id", F.lit(1).alias("ivf_hit"))
    j = (exact.join(lsh, ["query_id", "neighbor_id"], "left")
         .join(ivf, ["query_id", "neighbor_id"], "left"))
    return (j.groupBy("query_id")
            .agg(F.sum(F.coalesce("lsh_hit", F.lit(0))).alias("lsh_hits"),
                 F.sum(F.coalesce("ivf_hit", F.lit(0))).alias("ivf_hits"),
                 F.count("*").alias("n_exact"))
            .select("query_id", "lsh_hits", "ivf_hits", "n_exact",
                    (F.col("lsh_hits") / F.col("n_exact"))
                    .alias("lsh_recall"),
                    (F.col("ivf_hits") / F.col("n_exact"))
                    .alias("ivf_recall")))


def label_pair_distances(spark, sf_dir) -> DataFrame:
    """Exact pairwise Euclidean distances between per-label embedding
    centroids — the cluster-separation / label-confusion diagnostic a
    training pipeline runs after bucketing or labeling a corpus.

    Scale shape: the heavy work is the centroid reduction (integer-grid
    partial-agg sums over the full embedding table, _centroids); the
    pair stage then joins a k-row dim with itself (k = label count) —
    a deliberate broadcast cross of driver-known-tiny sides; corpus
    rows are never pair-joined. Determinism: centroids are bit-identical
    across engines (integer-grid sums), the squared-difference terms
    fold in dimension order (strict left fold from 0.0 in both
    engines), and sqrt is IEEE correctly-rounded."""
    emb = _emb(spark, sf_dir).select(
        "label", F.col("embedding").alias("v"))
    c = _centroids(emb)
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.label") < F.col("b.label"))
    diff2 = F.zip_with(F.col("a.c"), F.col("b.c"),
                       lambda x, y: (x - y) * (x - y))
    dist2 = F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v)
    return pairs.select(F.col("a.label").alias("label_a"),
                        F.col("b.label").alias("label_b"),
                        dist2.alias("dist2"),
                        F.sqrt(dist2).alias("dist"))


def cosine_near_dup(spark, sf_dir, tau: float = NEAR_DUP_TAU,
                    n_bands: int = NEAR_DUP_BANDS,
                    band_planes: int = NEAR_DUP_BAND_PLANES) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-family
    counterpart of lsh_topk): banded random-hyperplane LSH generates
    candidates — a pair qualifies iff it agrees on ALL planes of at
    least one band, the cosine analog of textops' MinHash banding —
    then exact cosine runs scoped to candidates only.

    Scale shape: the corpus is never self-crossed. Per-vector band
    sketches explode to (band, sketch) rows; candidates come from an
    equi-join on that key (co-partitioned, distinct-deduped with
    map-side combine), then one verification join fetches the two
    vectors. Band width trades recall vs candidate volume exactly as
    LSH_BANDS does for MinHash; at this fixture's geometry (2 bands x
    4 planes) candidates are ~12% of all pairs."""
    planes = plane_weights(n_bands * band_planes)
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v"))
    sketches = F.array(*[
        _bucket_expr(F.col("v"),
                     planes[b * band_planes:(b + 1) * band_planes])
        for b in range(n_bands)])
    bs = emb.select(
        "vec_id", F.posexplode(sketches).alias("band", "sketch"))
    a = bs.select(F.col("vec_id").alias("id_a"), "band", "sketch")
    b = bs.select(F.col("vec_id").alias("id_b"), "band", "sketch")
    cand = (a.join(b, ["band", "sketch"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    scored = (cand.join(ea, "id_a").join(eb, "id_b")
              .withColumn("score",
                          _dot(F.col("va"), F.col("vb")) /
                          (_norm(F.col("va")) * _norm(F.col("vb")))))
    return (scored.filter(F.col("score") >= tau)
            .select("id_a", "id_b", F.round("score", 6).alias("score_r")))


def lsh_topk(spark, sf_dir, n_queries: int = 20, k: int = 3,
             n_planes: int = N_PLANES) -> DataFrame:
    """ANN: candidates share the query's bucket (equi-join on bucket),
    exact cosine re-rank within the bucket only. The scale path: no
    cross product, join co-partitioned by bucket."""
    planes = plane_weights(n_planes)
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v"))
    b = emb.withColumn("bucket", _bucket_expr(F.col("v"), planes))
    q = (b.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv"), "bucket"))
    c = (b.filter(F.col("vec_id") >= n_queries)
         .select(F.col("vec_id").alias("neighbor_id"),
                 F.col("v").alias("cv"), "bucket"))
    scored = (c.join(q, "bucket")
              .withColumn("score",
                          _dot(F.col("qv"), F.col("cv")) /
                          (_norm(F.col("qv")) * _norm(F.col("cv")))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("score", 6).alias("score_r")))


QUANT_LEVELS = 127   # symmetric int8 scalar quantization


def embedding_quantize(spark, sf_dir) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the storage-compression step of a 100-TB vector pipeline (4x
    smaller than float32; IVF/LSH probes run on the codes). Per
    vector: q_i = floor((x_i * 127.0) / maxabs), maxabs = max |x_i|.

    Output pins the codes exactly: q_digest is md5 over the
    comma-joined code list, plus order-independent integer summaries
    (q_sum / q_min / q_max) and n_sat (codes at the ±127 rail).
    Determinism: float->double casts are exact, the two IEEE ops per
    element round identically in any engine, floor lands on exact
    integers, and max/sum of BIGINTs are reduction-order-independent;
    zero vectors quantize to all-zero codes (maxabs = 0 guard).

    100-TB shape: map-only — every column is a per-row array fold in
    whole-stage codegen; no shuffle, no UDF, nothing collected."""
    e = F.transform("embedding", lambda x: x.cast("double"))
    d = _emb(spark, sf_dir).select(
        "vec_id", e.alias("e"),
        F.array_max(F.transform(e, F.abs)).alias("maxabs"))
    lvl = F.lit(float(QUANT_LEVELS))
    q = F.when(F.col("maxabs") == 0.0, F.transform(
        "e", lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform("e", lambda x: F.floor(
            (x * lvl) / F.col("maxabs")).cast("long")))
    qd = d.select("vec_id", "maxabs", q.alias("q"))
    zero = F.lit(0).cast("long")
    sat = F.size(F.filter("q", lambda v: F.abs(v) == QUANT_LEVELS))
    return qd.select(
        "vec_id", "maxabs",
        F.md5(F.concat_ws(",", F.transform(
            "q", lambda v: v.cast("string")))).alias("q_digest"),
        F.aggregate("q", zero, lambda a, v: a + v).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        sat.cast("long").alias("n_sat"))


PQ_M = 4   # product-quantization subspaces (DIM/PQ_M dims each)


def pq_codes(spark, sf_dir, m: int = PQ_M) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11): split each
    embedding into ``m`` subvectors and code each against a
    per-subspace codebook — the memory-bound ANN representation
    (m bytes/vector where float32 takes 4·DIM). Deterministic
    variant: codebooks are the per-label integer-grid centroids of
    each SLICE (the IVF coarse-quantizer trick per subspace);
    assignment is argmax inner product with ties to the smallest
    code, exactly the ivf_topk assignment rule.

    100-TB shape: all m codebooks are tiny broadcasts; per-subspace
    scoring is map-side (crossJoin against the broadcast, map-side-
    combinable max(struct) argmax); the m assignment tables re-join
    on vec_id — m slim hash joins on a uniform key, and the fat
    vector column never shuffles."""
    d = DIM // m
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    out = None
    for s in range(m):
        sub = emb.select("vec_id", "label",
                         F.slice("v", s * d + 1, d).alias("v"))
        cent = _centroids(sub.drop("vec_id")).select(
            F.col("label").alias("code"), "c")
        asg = (sub.drop("label")
               .crossJoin(F.broadcast(cent))
               .select("vec_id", F.struct(
                   _dot(F.col("v"), F.col("c")).alias("score"),
                   (-F.col("code")).alias("nc")).alias("sc"))
               .groupBy("vec_id").agg(F.max("sc").alias("mx"))
               .select("vec_id",
                       (-F.col("mx.nc")).cast("int").alias(f"code{s}")))
        out = asg if out is None else out.join(asg, "vec_id")
    return out


def pq_codes_oracle_sql(m: int = PQ_M) -> str:
    """DuckDB twin of pq_codes: per-subspace slice -> integer-grid
    centroid -> argmax-dot assignment (rk=1 with the same tiebreak)."""
    d = DIM // m
    ctes = ["e AS (SELECT vec_id, label, "
            "CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"]
    sel, joins = [], []
    for s in range(m):
        a, b = s * d + 1, s * d + d
        ctes.append(
            f"x{s} AS (SELECT label, "
            f"generate_subscripts(v[{a}:{b}], 1) AS pos, "
            f"unnest(v[{a}:{b}]) AS val FROM e)")
        ctes.append(
            f"s{s} AS (SELECT label, pos, "
            "CAST(sum(CAST(CAST(val AS DECIMAL(20,10)) "
            "* CAST(10000000000 AS DECIMAL(11,0)) AS BIGINT)) AS BIGINT) "
            f"AS se10, count(*) AS n FROM x{s} GROUP BY label, pos)")
        ctes.append(
            f"c{s} AS (SELECT label AS code, "
            "list(CAST(se10 AS DOUBLE) / (n * 10000000000) ORDER BY pos) "
            f"AS c FROM s{s} GROUP BY label)")
        ctes.append(
            f"r{s} AS (SELECT vec_id, code, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY "
            f"list_inner_product(e.v[{a}:{b}], c{s}.c) DESC, code) "
            f"AS rk FROM e CROSS JOIN c{s})")
        ctes.append(
            f"a{s} AS (SELECT vec_id, CAST(code AS INT) AS code{s} "
            f"FROM r{s} WHERE rk = 1)")
        sel.append(f"code{s}")
        if s:
            joins.append(f"JOIN a{s} USING (vec_id)")
    return ("WITH " + ", ".join(ctes) +
            f" SELECT vec_id, {', '.join(sel)} FROM a0 " +
            " ".join(joins))


def pq_topk(spark, sf_dir, n_queries: int = 20, k: int = 3,
            m: int = PQ_M) -> DataFrame:
    """ANN via product quantization: queries scan the corpus's PQ
    CODES (asymmetric distance computation — the query stays exact,
    each corpus vector is its m-centroid reconstruction) and rank by
    cosine against the reconstruction. This is the memory-bound ANN
    regime: the scan touches m small ints per vector instead of DIM
    floats, the codebooks live in broadcast.

    Scale shape: corpus codes join their m broadcast codebooks
    map-side (reconstruction never shuffles); the 20-row query set
    broadcasts; per-query top-k is the bounded window. Rounded to 6
    decimals like ivf_topk for cross-engine display stability."""
    d = DIM // m
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    codes = pq_codes(spark, sf_dir, m)
    recon = codes.filter(F.col("vec_id") >= n_queries)
    for s in range(m):
        sub = emb.select("label", F.slice("v", s * d + 1, d).alias("v"))
        cent = _centroids(sub).select(
            F.col("label").alias(f"code{s}"), F.col("c").alias(f"c{s}"))
        recon = recon.join(F.broadcast(cent), f"code{s}")
    rv = F.concat(*[F.col(f"c{s}") for s in range(m)])
    corpus = recon.select(F.col("vec_id").alias("neighbor_id"),
                          rv.alias("rv"))
    queries = (emb.filter(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv")))
    scored = (corpus.crossJoin(F.broadcast(queries))
              .withColumn("score",
                          _dot(F.col("qv"), F.col("rv")) /
                          (_norm(F.col("qv")) * _norm(F.col("rv")))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("score", 6).alias("score_r")))


def pq_topk_oracle_sql(n_queries: int = 20, k: int = 3,
                       m: int = PQ_M) -> str:
    """DuckDB twin of pq_topk: the pq_codes CTE chain + codebook
    reconstruction (list concat) + cosine ranking."""
    d = DIM // m
    pq = pq_codes_oracle_sql(m)
    ctes = pq[len("WITH "):pq.index(" SELECT vec_id,")]
    recon_joins = " ".join(
        f"JOIN c{s} ON c{s}.code = a{s}.code{s}" for s in range(m))
    code_joins = " ".join(
        f"JOIN a{s} USING (vec_id)" for s in range(1, m))
    rv = " || ".join(f"c{s}.c" for s in range(m))
    return (
        "WITH " + ctes + ", "
        f"recon AS (SELECT vec_id AS neighbor_id, {rv} AS rv "
        f"FROM a0 {code_joins} {recon_joins} "
        f"WHERE vec_id >= {n_queries}), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e "
        f"WHERE vec_id < {n_queries}), "
        "sc AS (SELECT query_id, neighbor_id, "
        "list_cosine_similarity(qv, rv) AS score FROM recon CROSS JOIN q), "
        "r AS (SELECT query_id, neighbor_id, score, row_number() OVER ("
        "PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank "
        "FROM sc) "
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, "
        f"round(score, 6) AS score_r FROM r WHERE rank <= {k}")


def pq_recall(spark, sf_dir, n_queries: int = 20, k: int = 3) -> DataFrame:
    """Recall@k of the PQ/ADC path against the exact top-k — the
    compression-quality diagnostic published before trusting the
    codes at scale (completes the ann_recall family for the third
    index type). Per query: n_exact, n_hit, recall — exact integers
    and one IEEE division."""
    exact = cosine_topk(spark, sf_dir, n_queries=n_queries, k=k) \
        .select("query_id", "neighbor_id")
    pq = pq_topk(spark, sf_dir, n_queries=n_queries, k=k) \
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    j = exact.join(pq, ["query_id", "neighbor_id"], "left")
    return (j.groupBy("query_id")
            .agg(F.count("*").alias("n_exact"),
                 F.sum(F.coalesce("hit", F.lit(0)))
                 .cast("long").alias("n_hit"))
            .select("query_id", "n_exact", "n_hit",
                    (F.col("n_hit") / F.col("n_exact")).alias("recall")))
