"""The fused discovery-link kernel (link_scope_info) must agree
exactly with the per-url kernels it fuses (U.extract_host,
U.url_hash64 and U.domains_match, the domain_scope_udf predicate) — it exists purely to halve Arrow round-trips in
the candidate-expansion hot path (operators/fetch.py), so any
semantic drift is a crawl-trace bug."""

import pytest
from pyspark.sql import functions as F

from supacrawler_spark import urlkit as U
from supacrawler_spark.functions import link_scope_info

CASES = [
    # (discovery url, seed_host) — already-normalized links, the only
    # shapes expand_candidates ever feeds the kernel, plus the noise
    # shapes the no-re-clean rule protects (mailto:/javascript: must
    # NOT grow a fake host and leak past the scope filter).
    ("https://hot.example.org/blog/p1", "hot.example.org"),
    ("https://h3.example.org/docs/p2", "hot.example.org"),
    ("https://sub.hot.example.org/s/p9", "hot.example.org"),
    ("https://www.hot.example.org/blog/p1", "hot.example.org"),
    ("mailto:info@example.org", "hot.example.org"),
    ("javascript:void(0)", "hot.example.org"),
    ("https://HOT.example.org:443/x", "hot.example.org"),
    (None, "hot.example.org"),
]


@pytest.mark.parametrize("include_subdomains", [False, True])
def test_fused_kernel_matches_two_pass(spark, include_subdomains):
    df = spark.createDataFrame(CASES, ["url", "seed_host"])
    out = (df.withColumn(
        "_ci", link_scope_info(include_subdomains)(
            F.col("url"), F.col("seed_host")))
        .select("url", "seed_host", "_ci.host", "_ci.url_hash",
                "_ci.in_scope")
        .collect())
    assert len(out) == len(CASES)
    for r in out:
        exp_host = U.extract_host(r["url"]) if r["url"] is not None else None
        exp_hash = U.url_hash64(r["url"]) if r["url"] is not None else None
        exp_scope = U.domains_match(exp_host or "", r["seed_host"] or "",
                                    include_subdomains)
        assert r["host"] == exp_host, r
        assert r["url_hash"] == exp_hash, r
        assert bool(r["in_scope"]) == bool(exp_scope), r
