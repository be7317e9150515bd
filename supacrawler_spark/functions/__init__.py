"""Vectorized pandas/Arrow UDFs over the pure-Python kernels.

Per the input_hint ("vectorized pandas/Arrow UDFs, no per-row Python"):
every UDF here is a batch-level Arrow transfer (`pandas_udf`); the
per-element work inside a batch is plain Python over the kernel
functions (URL parsing has no numpy form), which is the allowed shape —
what is forbidden is Spark's row-at-a-time Python UDF API.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from supacrawler_spark import urlkit as U

CANON_STRUCT = T.StructType([
    T.StructField("url_canon", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("url_hash", T.LongType()),
])


@pandas_udf(CANON_STRUCT)
def canon_info(urls: pd.Series) -> pd.DataFrame:
    """url -> (url_canon, host, url_hash) in one Arrow batch pass.

    canonical_url = cleanURL + normalize (mapper/service.go:214-239);
    host = Hostname() (221-227); url_hash = stable 64-bit (Bloom key).
    """
    canon = urls.map(lambda u: U.canonical_url(u) if u is not None else None)
    host = canon.map(lambda u: U.extract_host(u) if u is not None else None)
    h = canon.map(lambda u: U.url_hash64(u) if u is not None else None)
    return pd.DataFrame({"url_canon": canon, "host": host, "url_hash": h})


def link_scope_info(include_subdomains: bool):
    """Fused discovery-link kernel: host + hash + domain-scope verdict
    in ONE Arrow pass. The candidate expansion runs over every
    discovered link of a wave (~10x the wave row count) — two separate
    pandas-UDF passes there mean two full Arrow serialize/deserialize
    round-trips of the hottest column in the discovery path; fusing
    halves that traffic. Semantics are exactly U.extract_host +
    U.url_hash64 + U.domains_match (mapper/service.go:128, 241-254).
    Links arrive ALREADY normalized (colly emits normalized links), so
    unlike `canon_info` this must NOT re-apply cleanURL: scheme-
    defaulting a `mailto:` or `javascript:` link would invent a bogus
    host and leak it past the domain-scope filter."""
    inc = bool(include_subdomains)

    @pandas_udf("host string, url_hash long, in_scope boolean")
    def _info(urls: pd.Series, seed_host: pd.Series) -> pd.DataFrame:
        host = urls.map(lambda u: U.extract_host(u) if u is not None
                        else None)
        h = urls.map(lambda u: U.url_hash64(u) if u is not None else None)
        scope = [U.domains_match(a or "", b or "", inc)
                 for a, b in zip(host, seed_host)]
        return pd.DataFrame({"host": host, "url_hash": h,
                             "in_scope": scope})

    return _info


def match_patterns_udf(patterns: "list[str] | None"):
    """Pattern predicate factory (crawl/service.go:780-817). Compiled
    once per query; constant-folds to lit(True) when no patterns, so
    the filter disappears from the plan entirely."""
    pats = tuple(patterns or ())
    if not pats:
        return lambda col: F.lit(True)

    @pandas_udf(T.BooleanType())
    def _match(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: U.matches_pattern(u, pats))

    return _match


def domain_scope_udf(include_subdomains: bool):
    """Domain-scope predicate factory (mapper/service.go:241-254):
    link host vs the row's seed host."""
    inc = bool(include_subdomains)

    @pandas_udf(T.BooleanType())
    def _scope(host: pd.Series, seed_host: pd.Series) -> pd.Series:
        return pd.Series(
            [U.domains_match(a or "", b or "", inc)
             for a, b in zip(host, seed_host)]
        )

    return _scope


@pandas_udf(T.BooleanType())
def robots_allowed_udf(url: pd.Series, disallow: pd.Series,
                       allow: pd.Series) -> pd.Series:
    """Robots prefix predicate after the broadcast join on host
    (SURVEY.md J4). Null rule arrays (host absent from robots table)
    mean allow-all — the reference's stub behavior
    (robots/robots.go:7)."""
    out = []
    for u, d, a in zip(url, disallow, allow):
        if d is None and a is None:
            out.append(True)
            continue
        try:
            path = U.urlsplit(u).path
        except ValueError:
            out.append(False)
            continue
        out.append(U.robots_allowed(
            path,
            list(d) if d is not None else None,
            list(a) if a is not None else None,
        ))
    return pd.Series(out)

