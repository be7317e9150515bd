#!/usr/bin/env python3
"""Compute the pinned outputs in ``expected.json`` from independent
references, and check the engine against them once:

- crawls: ``supacrawler_spark.oracle.crawl_oracle``, the pure-Python
  transcription of the crawl semantics, over the same corpus and seeds;
- corpus operators: each operator's DuckDB twin from
  ``__spark_entry__.oracle_sql()`` over the same parquet tables, compared
  on the columns the twin has (``dup_clusters``: a pure-Python
  reference, see ``dup_clusters_reference``). The pinned value is the
  engine's digest over all its columns, written once it agrees.

    python3 perfbench/pin.py            # every variant and workload
    python3 perfbench/pin.py 0 2        # only variants 0 and 2

Exits non-zero if the engine disagrees with a reference anywhere; the
value is written either way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from run import ROOT, Bench, configure_env, log  # noqa: E402

from perfbench import checks, workloads as W  # noqa: E402

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


def _budgets(budget: int) -> dict:
    """The workload's budget for every host a crawl can reach: the
    engine's politeness table plus the www-variants it gives
    ``default_host_budget``."""
    from supacrawler_spark.sources.synth import host_name, n_hosts

    return {h: budget for i in range(n_hosts())
            for h in (host_name(i), "www." + host_name(i))}


def oracle_crawl(corpus: str, wl, seeds) -> dict:
    import pyarrow.parquet as pq
    from supacrawler_spark.oracle import crawl_oracle

    t = pq.read_table(corpus, columns=["url_canon", "html"]).to_pydict()
    pages = {u: bytes(h).decode("utf-8", "replace")
             for u, h in zip(t["url_canon"], t["html"])}
    orc = crawl_oracle(pages, seeds, wl.params,
                       politeness=_budgets(wl.cfg["budget"]))
    return {"urls_scheduled": len(orc.trace),
            "successful_pages": orc.stats["successful_pages"],
            "failed_pages": orc.stats["failed_pages"],
            "waves": len(orc.waves),
            "digest": checks.oracle_crawl_digest(orc)}


def dup_clusters_reference(tables: str) -> tuple:
    """Pure-Python near-dup clusters: distinct word 3-gram shingles,
    8 md5 MinHash permutations in 4 LSH bands, exact Jaccard >= 0.8 on
    the band candidates, connected components labelled by min doc_id.
    Used instead of the DuckDB twin, which over-counts shingle
    intersections on these inputs (n_inter above either doc's shingle
    count) and so misses clusters of identical documents."""
    import hashlib
    from collections import defaultdict

    import pyarrow.parquet as pq

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    t = pq.read_table(f"{tables}/documents.parquet",
                      columns=["doc_id", "text"]).to_pydict()
    sh = {}
    for d, text in zip(t["doc_id"], t["text"]):
        w = text.split(" ")
        if len(w) >= 3:
            sh[d] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    bands = defaultdict(list)
    for d, shingles in sh.items():
        mh = [min(md5(f"{k}|{s}") for s in shingles) for k in range(8)]
        for b in range(4):
            bands[(b, md5(f"{mh[2 * b]}|{mh[2 * b + 1]}"))].append(d)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x
    for docs in bands.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter = len(sh[a] & sh[b])
                if inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.8:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    label = {d: find(d) for d in parent}
    size = defaultdict(int)
    for c in label.values():
        size[c] += 1
    return (["doc_id", "cluster_id", "cluster_size"],
            [(d, c, size[c]) for d, c in label.items()])


def check_suite(wl) -> tuple:
    """Run every operator on the engine and compare it with its
    reference on the columns both have. Returns (engine summaries,
    per-operator disagreement or None)."""
    import duckdb
    import __spark_entry__ as E

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{wl.tables}/{t}.parquet'")
    sql = E.oracle_sql()
    pinned, diff = {}, {}
    for name in W.SUITE:
        df = wl.ops[name](wl.b.spark, wl.tables)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        pinned[name] = checks.frame_digest(cols, rows)
        if name == "dup_clusters":
            ref_cols, ref_rows = dup_clusters_reference(wl.tables)
        else:
            rel = con.sql(sql[name])
            ref_cols, ref_rows = rel.columns, rel.fetchall()
        if set(ref_cols) - set(cols):
            diff[name] = f"engine lacks columns {set(ref_cols) - set(cols)}"
            continue

        def project(cs, rs):
            return [tuple(r[cs.index(c)] for c in ref_cols) for r in rs]
        diff[name] = checks.mismatch(
            checks.frame_digest(ref_cols, project(cols, rows)),
            checks.frame_digest(ref_cols, project(ref_cols, ref_rows)))
    return pinned, diff


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("variants", nargs="*", type=int,
                    default=list(range(W.N_VARIANTS)))
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench_work")
    configure_env(work)
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    bad = 0
    bench = Bench(argparse.Namespace(seed=0, trace=0), work)
    bench.start_spark()
    try:
        W.prepare_inputs(bench.spark, work)
        for v in args.variants:
            bench.variant = v
            for name in W.WORKLOADS:
                t = time.perf_counter()
                pins = []   # (expected.json key, pinned value, diffs)
                if name in W.CRAWLS:
                    wl = W.CrawlWorkload(name, bench)
                    corpus = os.path.join(W.corpus_dir(work, v), "pages")
                    for key, seeds in ((name, wl.seeds),
                                       (wl.warmup_key, wl.warmup_seeds)):
                        ref = oracle_crawl(corpus, wl, seeds)
                        engine = wl.run(f"pin-{key}", False, seeds)["summary"]
                        pins.append((key, ref,
                                     {"crawl": checks.mismatch(engine, ref)}))
                else:
                    pins.append((name, *check_suite(
                        W.SuiteWorkload(name, bench))))
                for key, pinned, diff in pins:
                    for k, d in diff.items():
                        if d:
                            bad += 1
                            log(f"MISMATCH variant {v} {key} {k}: {d}")
                    expected.setdefault(key, {})[str(v)] = pinned
                log(f"variant {v} {name}: pinned in "
                    f"{time.perf_counter() - t:.1f} s")
    finally:
        bench.stop_spark()
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
