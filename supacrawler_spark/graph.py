"""Host-level link-graph analytics over the crawl's discovery output.

A web-scale crawler's discovered-links table induces a host→host graph
(who links to whom, how often); training pipelines rank hosts on it to
prioritize recrawl and to weight corpus quality (the Common-Crawl-rank
/ harmonic-centrality idea). The reference keeps only per-host counters
(internal/core/crawl/service.go crawl statistics); the graph rollup and
PageRank are the scale-path generalization of those counters.

Both operators are pure DataFrame builders (spark, sf_dir) -> DataFrame
with exact DuckDB oracle twins. Determinism across engines: PageRank is
computed entirely in BIGINT fixed-point (SCALE=1e6, damping 85/100,
truncating integer division) — integer sums are order-independent, so
Spark and DuckDB agree bit-for-bit where float power iteration would
hash-mismatch on reduction order.

The driver-visible graph is derived deterministically from the `events`
table (src host = user_id mod 32, dst host = event_id mod 32 — the same
synthetic-host convention q_host_counts uses); in the engine the same
operators run over the crawl's (page_host, link_host) discovery pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from supacrawler_spark.session import arrow_df, bounded_head, read_table

PR_SCALE = 1_000_000        # fixed-point 1.0
PR_DAMP_NUM = 85            # damping 0.85 as a ratio of integers
PR_DAMP_DEN = 100
PR_BASE = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN  # 150000
PR_ITERS = 3


def _events(spark, sf_dir):
    return read_table(spark, sf_dir, "events")


def host_link_edges(spark, sf_dir) -> DataFrame:
    """Host→host edge rollup: (src, dst, weight) with self-loops
    dropped (a host linking to itself transfers no rank).

    100-TB shape: one hash shuffle on the (src, dst) pair with
    map-side partial counts — discovered links collapse to at most
    |hosts|² slim rows (in practice ~50 edges/host), so the edge
    table is ~10⁹ rows for 10⁸ hosts where the link table is 10¹².
    """
    ev = _events(spark, sf_dir)
    src = F.concat(F.lit("h"), (F.col("user_id") % 32).cast("string"))
    dst = F.concat(F.lit("h"), (F.col("event_id") % 32).cast("string"))
    return (ev.select(src.alias("src"), dst.alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count("*").alias("weight")))


PR_SMALL_EDGES = 100_000
"""Edge-count bound below which the power iteration runs driver-side
(same driver-known-bound gating discipline as textops.CC_SMALL_EDGES,
through the same session.bounded_head gate): a host-level edge rollup
is |hosts|-bounded, not corpus-bounded, and a dim-sized graph pays ~5
Spark jobs of pure fixed latency per query for microseconds of
arithmetic (measured: pagerank_hosts 1.8 s -> the edge rollup alone).
Exact BIGINT fixed-point either way — the local mirror uses the same
truncating integer division on the same non-negative operands, so
results are bit-identical (pinned by test_graph's python-twin tests
and by test_graph_smallgate, which forces the distributed path with a
negative bound)."""


def _power_iterate_local(head, iters: int, trusted: bool) -> dict:
    """Driver-side mirror of _power_iterate's rounds: identical
    integer arithmetic ((rank*85*w) // (100*w_out) — Python floor ==
    Spark DIV truncation on non-negative operands), identical
    no-incoming/coalesce-0 handling. Returns (host, pagerank_fp)
    columns, hosts sorted."""
    edges = list(zip(*head.to_pydict().values()))
    w_out: dict = {}
    for s, d, w in edges:
        w_out[s] = w_out.get(s, 0) + w
    hosts = sorted({h for s, d, _ in edges for h in (s, d)})
    tr = {h: (trusted_host_py(h) if trusted else True) for h in hosts}
    rank = {h: (PR_SCALE if tr[h] else 0) for h in hosts}
    for _ in range(iters):
        inc: dict = {}
        for s, d, w in edges:
            c = (rank[s] * PR_DAMP_NUM * w) // (PR_DAMP_DEN * w_out[s])
            inc[d] = inc.get(d, 0) + c
        rank = {h: (PR_BASE if tr[h] else 0) + inc.get(h, 0)
                for h in hosts}
    return {"host": hosts, "pagerank_fp": list(rank.values())}


def trusted_host_py(host: str) -> bool:
    """Python mirror of trusted_host's Column predicate (substring
    chars 2..11 cast to long, % 7 == 0)."""
    try:
        return int(host[1:11]) % 7 == 0
    except ValueError:
        return False


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Weighted PageRank over ``(src, dst, weight)``, ``iters`` fixed
    power iterations in BIGINT fixed-point: rank₀ = SCALE for every
    node; each round a node sends ``(rank·85·w) DIV (100·w_out)``
    along each out-edge and receives ``150000 + Σ incoming``. Dangling
    nodes keep receiving the base term but their own mass is dropped
    (the standard no-redistribution simplification, mirrored in the
    oracle). Returns (host, pagerank_fp) — fixed-point, SCALE = 1.0.

    100-TB shape per iteration: the rank table is one slim
    (host, long) row per node; edges (pre-joined once with their
    source's total out-weight and persisted) equi-join ranks on src —
    a co-partitionable hash join on a uniform key — then a
    map-side-combinable sum groupBy on dst. Two hash shuffles per
    round, nothing broadcast-sized grows with the corpus;
    ``localCheckpoint`` truncates lineage so the plan stays flat in
    ``iters`` (same discipline as textops.connected_components). On a
    real cluster, repartition edges by src once and every iteration's
    join reuses that exchange.
    """
    return _power_iterate(edges, iters)


def _power_iterate(edges: DataFrame, iters: int,
                   trusted: bool = False) -> DataFrame:
    """Shared fixed-point power iteration. With ``trusted`` the
    teleport/base term is restricted to the fixture's trusted set
    (trusted_host; trusted_host_py is its driver-side mirror) —
    TrustRank — so rank mass can only originate at trusted nodes and
    flow along links; spam hosts with no trusted in-path converge to 0.

    Adaptive (PR_SMALL_EDGES): below the bound the rounds run
    driver-side on the gated edge rollup — one Spark job instead of
    persist + iters localCheckpoint actions. Above the bound the
    distributed path runs."""
    head = bounded_head(edges.select("src", "dst",
                                     F.col("weight").cast("long")),
                        PR_SMALL_EDGES)
    if head is not None:
        return arrow_df(edges.sparkSession,
                        _power_iterate_local(head, iters, trusted),
                        "host string, pagerank_fp long")
    outw = edges.groupBy("src").agg(F.sum("weight").alias("w_out"))
    e = edges.join(outw, "src").persist()
    hosts = (e.select(F.col("src").alias("host"))
             .union(e.select(F.col("dst").alias("host")))
             .distinct())
    tflag = trusted_host(F.col("host")) if trusted else F.lit(True)
    nodes = hosts.select("host", tflag.alias("trusted")).persist()
    init = F.when(F.col("trusted"), F.lit(PR_SCALE)).otherwise(F.lit(0))
    base = F.when(F.col("trusted"), F.lit(PR_BASE)).otherwise(F.lit(0))
    ranks = nodes.select("host", init.cast("long").alias("rank"))
    contrib = F.expr(
        f"(rank * {PR_DAMP_NUM} * weight) DIV ({PR_DAMP_DEN} * w_out)")
    for _ in range(iters):
        incoming = (e.join(ranks.withColumnRenamed("host", "src"), "src")
                    .select(F.col("dst").alias("host"),
                            contrib.alias("c"))
                    .groupBy("host")
                    .agg(F.sum("c").alias("in_sum")))
        ranks = (nodes.join(incoming, "host", "left")
                 .select("host",
                         (base.cast("long")
                          + F.coalesce("in_sum", F.lit(0)))
                         .alias("rank"))
                 .localCheckpoint())
    e.unpersist()
    nodes.unpersist()
    return ranks.select("host", F.col("rank").alias("pagerank_fp"))


def pagerank_hosts(spark, sf_dir, iters: int = PR_ITERS) -> DataFrame:
    """Driver-contract entry: PageRank over the deterministic host
    graph (see module docstring)."""
    return pagerank(host_link_edges(spark, sf_dir), iters)


def trusted_host(host) -> "F.Column":
    """The fixture's trusted-seed rule: host numeric id % 7 == 0
    (h0, h7, h14, h21, h28 of the 32 synthetic hosts) — mirrored
    literally by the DuckDB oracle."""
    return F.substring(host, 2, 10).cast("long") % 7 == 0


def trustrank_hosts(spark, sf_dir, iters: int = PR_ITERS) -> DataFrame:
    """TrustRank: PageRank with the teleport restricted to a trusted
    seed set — the classic spam-demotion ranking (Gyöngyi et al.,
    VLDB'04). Hosts reachable only from untrusted regions of the graph
    converge to 0; a training pipeline thresholds this to down-weight
    link-farm content. Same BIGINT fixed-point iteration and the same
    two-hash-shuffles-per-round scale shape as pagerank_hosts; the
    trusted flag is one boolean on the slim node table."""
    return _power_iterate(host_link_edges(spark, sf_dir), iters,
                          trusted=True)


def host_degree_stats(spark, sf_dir) -> DataFrame:
    """Per-host degree/weight profile of the link graph: out_degree /
    out_weight (distinct targets / total links emitted) and in_degree /
    in_weight (distinct referrers / total links received), zero-filled
    for hosts that only appear on one side. The crawl-frontier
    prioritizer's cheap centrality signal (one pass, no iteration).

    100-TB shape: two map-side-combinable aggregations over the slim
    edge table and a full-outer equi-join on host — all three
    exchanges hash on uniform host keys; nothing document-sized
    moves."""
    e = host_link_edges(spark, sf_dir)
    out = e.groupBy(F.col("src").alias("host")).agg(
        F.count("*").alias("out_degree"),
        F.sum("weight").alias("out_weight"))
    inc = e.groupBy(F.col("dst").alias("host")).agg(
        F.count("*").alias("in_degree"),
        F.sum("weight").alias("in_weight"))
    zero = F.lit(0).cast("long")
    return (out.join(inc, "host", "full")
            .select("host",
                    F.coalesce("out_degree", zero).alias("out_degree"),
                    F.coalesce("out_weight", zero).alias("out_weight"),
                    F.coalesce("in_degree", zero).alias("in_degree"),
                    F.coalesce("in_weight", zero).alias("in_weight")))


ANCHOR_PAGES = 200   # corpus bound shared by query, golden, and tests


def anchor_pairs_df(pages: DataFrame) -> DataFrame:
    """(target_url, anchor_text, src_url) rows extracted from a pages
    corpus — one Arrow-batched mapInPandas pass in the scan stage, so
    the fat html column is consumed where it is produced and never
    shuffled. Every anchor occurrence is kept (no dedup): occurrence
    counts are the aggregation's signal."""
    import pandas as pd

    def ex(batches):
        from supacrawler_spark import htmlkit as H
        for pdf in batches:
            tgt, txt, src = [], [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                # arbitrary-encoding web bytes (warc_to_pages feeds
                # this): replace, never raise — one latin-1 page must
                # not kill the extraction stage
                page = bytes(html).decode("utf-8", "replace")
                for t, a in H.extract_anchor_pairs(page, url):
                    tgt.append(t)
                    txt.append(a)
                    src.append(url)
            yield pd.DataFrame(
                {"target_url": tgt, "anchor_text": txt, "src_url": src})

    return pages.select("url", "html").mapInPandas(
        ex, "target_url string, anchor_text string, src_url string")


def anchor_text_agg(pairs: DataFrame) -> DataFrame:
    """Per-target anchor-text profile: how the web describes each URL.

    Output per target_url: n_refs (anchor occurrences), n_sources
    (distinct referring pages), n_texts (distinct anchor strings),
    top_text / top_count (the most frequent anchor string; ties break
    to the lexicographically greatest text via max(struct(n, text)) —
    deterministic, mirrored by the a-priori golden).

    100-TB shape: the (target, text) rollup and the per-target fold
    are both map-side-combinable hash aggregations on the target key;
    n_sources is one distinct-pair rollup reusing the same hash
    partitioning. Only slim (url, text, count) rows shuffle — anchor
    dictionaries per target are never materialized as arrays."""
    by_text = (pairs.groupBy("target_url", "anchor_text")
               .agg(F.count("*").alias("n")))
    tstats = (by_text.groupBy("target_url")
              .agg(F.sum("n").alias("n_refs"),
                   F.count("*").alias("n_texts"),
                   F.max(F.struct("n", "anchor_text")).alias("top")))
    srcs = (pairs.select("target_url", "src_url").distinct()
            .groupBy("target_url").agg(F.count("*").alias("n_sources")))
    return (tstats.join(srcs, "target_url")
            .select("target_url", "n_refs", "n_sources", "n_texts",
                    F.col("top.anchor_text").alias("top_text"),
                    F.col("top.n").alias("top_count")))


def anchor_text(spark, sf_dir) -> DataFrame:
    """Driver-contract entry: anchor-text aggregation over the first
    ANCHOR_PAGES pages of the synthetic web. Golden oracle is computed
    a priori from the page TEMPLATE (nav sections + _link_specs), not
    by parsing html — scripts/make_goldens.py:golden_anchor_text."""
    from supacrawler_spark.sources.synth import gen_pages_df
    pages, _ = gen_pages_df(spark, sf_dir, limit=ANCHOR_PAGES)
    return anchor_text_agg(anchor_pairs_df(pages))


HITS_ITERS = 2


def hits_hosts(spark, sf_dir, iters: int = HITS_ITERS) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM'99) over the host
    graph — the complementary centrality to PageRank: authorities are
    hosts good pages point AT (corpus-quality weighting), hubs are
    hosts that point at good authorities (seed-list candidates).

    Determinism: BIGINT fixed-point like pagerank. Each half-step is
    a weighted sum of the opposite score along edges, then max-
    normalized back to SCALE with truncating division (a DIV by the
    round's integer max — max and sum of BIGINTs are reduction-order-
    independent, so Spark and DuckDB agree bit-for-bit where the
    classic L2 normalization's sqrt would not).

    100-TB shape per half-step: edges equi-join the opposite score on
    one uniform host key, map-side-combinable sum on the other key,
    one 1-row max broadcast back — two hash shuffles, nothing
    document-sized; lineage truncated per round (localCheckpoint), as
    in _power_iterate."""
    return hits(host_link_edges(spark, sf_dir), iters)


def _hits_local(head, iters: int):
    """Driver-side mirror of hits' half-steps: identical weighted
    sums, max-normalization with truncating division, and
    missing-score coalesce-to-0. Returns (host, hub_fp, authority_fp)
    columns, hosts sorted."""
    edges = list(zip(*head.to_pydict().values()))
    hosts = sorted({h for s, d, _ in edges for h in (s, d)})

    def half(score, rev):
        raw: dict = {}
        for s, d, w in edges:
            src, dst = (d, s) if rev else (s, d)
            raw[dst] = raw.get(dst, 0) + score[src] * w
        mx = max(raw.values()) if raw else 0
        return {h: ((raw[h] * PR_SCALE) // mx if h in raw and mx else 0)
                for h in hosts}

    hub = {h: PR_SCALE for h in hosts}
    auth = {}
    for _ in range(iters):
        auth = half(hub, rev=False)
        hub = half(auth, rev=True)
    return {"host": hosts, "hub_fp": [hub[h] for h in hosts],
            "authority_fp": [auth[h] for h in hosts]}


def hits(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """HITS over an arbitrary (src, dst, weight) edge table — see
    hits_hosts for semantics and scale shape. Adaptive like
    _power_iterate: a PR_SMALL_EDGES-bounded graph iterates
    driver-side in one job (bit-identical; pinned by the python-twin
    test and by the distributed-path equality test, which forces the
    distributed path with a negative bound)."""
    head = bounded_head(edges.select("src", "dst",
                                     F.col("weight").cast("long")),
                        PR_SMALL_EDGES)
    if head is not None:
        return arrow_df(edges.sparkSession, _hits_local(head, iters),
                        "host string, hub_fp long, authority_fp long")
    edges = edges.persist()
    hosts = (edges.select(F.col("src").alias("host"))
             .union(edges.select(F.col("dst").alias("host")))
             .distinct().persist())
    hub = hosts.select("host", F.lit(PR_SCALE).cast("long").alias("s"))

    def _half(score, src_key, dst_key):
        raw = (edges.join(score.withColumnRenamed("host", src_key),
                          src_key)
               .select(F.col(dst_key).alias("host"),
                       (F.col("s") * F.col("weight")).alias("c"))
               .groupBy("host").agg(F.sum("c").alias("raw")))
        mx = raw.agg(F.max("raw").alias("mx"))
        normed = (raw.crossJoin(F.broadcast(mx))
                  .select("host", F.expr(
                      f"(raw * {PR_SCALE}) DIV mx").alias("s")))
        return (hosts.join(normed, "host", "left")
                .select("host", F.coalesce(
                    "s", F.lit(0).cast("long")).alias("s"))
                .localCheckpoint())

    auth = None
    for _ in range(iters):
        auth = _half(hub, "src", "dst")     # authority <- hubs pointing in
        hub = _half(auth, "dst", "src")     # hub <- authorities pointed at
    out = (hub.withColumnRenamed("s", "hub_fp")
           .join(auth.withColumnRenamed("s", "authority_fp"), "host"))
    edges.unpersist()
    hosts.unpersist()
    return out.select("host", "hub_fp", "authority_fp")


def host_gini(spark, sf_dir) -> DataFrame:
    """Crawl-skew fairness index: the Gini coefficient of the per-host
    load distribution — the one-number skew diagnostic a frontier
    scheduler publishes per wave (0 = perfectly even hosts, →1 = one
    hot host takes everything; the politeness budget exists to push
    this down). Computed with the exact sorted-rank identity
    G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) — every term an exact BIGINT,
    one IEEE division at the end, so the double is bit-identical.

    100-TB shape: per-host loads are one map-side-combinable count;
    the rank runs over the |hosts| slim rollup (bounded; two-phase
    rank at 10^8 hosts per operators.rank), and the final fold is a
    1-row aggregate."""
    ev = _events(spark, sf_dir)
    loads = (ev.select(F.concat(F.lit("h"), (F.col("user_id") % 32)
                                .cast("string")).alias("host"))
             .groupBy("host").agg(F.count("*").alias("x")))
    from pyspark.sql import Window
    w = Window.orderBy("x", "host")
    ranked = loads.select("x", F.row_number().over(w).alias("i"))
    return (ranked.agg(
        F.count("*").alias("n_hosts"),
        F.sum("x").alias("total"),
        F.sum(F.col("i") * F.col("x")).alias("iwx"))
        .select("n_hosts", "total",
                ((F.lit(2) * F.col("iwx")
                  - (F.col("n_hosts") + 1) * F.col("total"))
                 / (F.col("n_hosts") * F.col("total"))).alias("gini")))


def host_gini_oracle_sql() -> str:
    """DuckDB twin of host_gini — same rank order (x, host) and the
    same integer identity."""
    return (
        "WITH loads AS (SELECT 'h' || CAST(user_id % 32 AS VARCHAR) "
        "AS host, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1), "
        "ranked AS (SELECT x, CAST(row_number() OVER (ORDER BY x, host) "
        "AS BIGINT) AS i FROM loads), "
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n_hosts, "
        "CAST(sum(x) AS BIGINT) AS total, "
        "CAST(sum(i * x) AS BIGINT) AS iwx FROM ranked) "
        "SELECT n_hosts, total, "
        "(2 * iwx - (n_hosts + 1) * total) / (n_hosts * total) AS gini "
        "FROM agg")
