"""Fetch join + extraction + discovery expansion (SURVEY.md §2.1 S2,
§2.8 X1-X8, §2.3 J1).

The corpus join replaces the reference's Playwright fetch: a frontier
URL present in pages "returns" its html (status 200); an absent URL is
the 404/error path (scrape/service.go:121-270, isValidResult 648-668).

Extraction is ONE mapInPandas pass per wave over (frontier row ⨝ html):
markdown/text/links/title/metadata plus the engine-internal `discovery`
array (colly-style canonical links used for expansion). The html column
never survives past this stage unless include_html — fat binaries are
not shuffled onward (SURVEY.md §7.3.5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from supacrawler_spark import htmlkit as H
from supacrawler_spark import urlkit as U
from supacrawler_spark.oracle import ERR_LOW_QUALITY, ERR_ROBOTS
from supacrawler_spark.schemas import RESULT_SCHEMA
from supacrawler_spark.functions import (
    link_scope_info,
    match_patterns_udf,
    robots_allowed_udf,
)


def fetch_join(scheduled: DataFrame, pages_prep: DataFrame) -> DataFrame:
    """J1 for a wave above the broadcast size: the frontier left-joins
    the corpus on the canonical URL with SHUFFLE_HASH, the frontier as
    build side (never sort-merge-sort the corpus); with a bucketed
    corpus table (bucketize_pages / Iceberg bucket partitioning) the
    corpus side of this shuffle disappears too. run_crawl takes this
    path above SMALL_WAVE_ROWS scheduled rows; broadcast-sized waves
    take fetch_join_split."""
    web = pages_prep.select(F.col("url_canon").alias("url"), "html")
    return scheduled.hint("SHUFFLE_HASH").join(web, "url", "left")


def fetch_join_split(scheduled: DataFrame, pages_prep: DataFrame,
                     pages_urls: "DataFrame | None" = None,
                     broadcast_urls: bool = False):
    """Small-wave fetch join, hits and misses as SEPARATE frames (r6):
    the miss side needs no html column and — see miss_results — no
    Python at all, so callers can keep the extraction UDF strictly on
    hit rows.

    - ONE broadcast exchange of the slim wave, reused by the hits join
      and the hit-url semi join. Hits come from a broadcast-inner join
      against the html corpus scan (parallel; html never leaves the
      executors). Misses are computed against ``pages_urls``, a
      url-only projection of the corpus (tiny columnar scan), so the
      html column is scanned exactly once per wave.
    - broadcast_urls: when the caller KNOWS the corpus-url dim is
      broadcast-sized (driver-known corpus bytes), the miss path
      anti-joins the wave against the broadcast url dim directly. The
      semi-join variant builds `scheduled` twice per wave (column
      pruning gives the semi join a url-only build subtree, so
      ReuseExchange cannot fire — two BroadcastExchange jobs,
      event-log-verified); this path builds the wave once + the url
      dim once. miss = sched ∖ corpus-urls ≡ sched ∖ (corpus-urls ∩
      sched)."""
    web = pages_prep.select(F.col("url_canon").alias("url"), "html")
    b_sched = F.broadcast(scheduled)
    hits = web.join(b_sched, "url", "inner")
    urls = (pages_urls if pages_urls is not None
            else pages_prep).select(F.col("url_canon").alias("url"))
    if broadcast_urls:
        miss = scheduled.join(F.broadcast(urls), "url", "left_anti")
    else:
        hit_urls = urls.join(b_sched, "url", "left_semi")
        miss = scheduled.join(F.broadcast(hit_urls), "url", "left_anti")
    return hits, miss


def miss_results(miss: DataFrame, fresh: bool) -> DataFrame:
    """RESULT_SCHEMA rows for corpus misses, computed in whole-stage
    codegen — the extractor's html-is-None branch is a pure function
    of the scheduled row, so miss rows never cross the Python
    boundary (r6: the miss side of every wave previously ran ~32
    near-empty mapInPandas tasks, each paying a Python-worker
    round-trip). Mirrors operators/fetch.make_extractor exactly:
    status 404; fresh && robots-blocked (pattern-passing rows only)
    -> 403/ERR_ROBOTS; pattern-passing otherwise -> ERR_LOW_QUALITY;
    pattern-rejected seeds carry no error; every content field null.
    Equality with the extractor is pinned by
    tests/test_miss_results.py."""
    from supacrawler_spark.schemas import RESULT_SCHEMA

    pat = F.when(F.col("parent_ord") == -1,
                 F.col("pattern_ok")).otherwise(F.lit(True))
    blocked = F.lit(bool(fresh)) & ~F.col("robots_ok")
    status = F.when(pat & blocked, F.lit(403)).otherwise(F.lit(404))
    error = (F.when(~pat, F.lit(None).cast("string"))
             .when(blocked, F.lit(ERR_ROBOTS))
             .otherwise(F.lit(ERR_LOW_QUALITY)))
    computed = {
        "status_code": status.cast("int"),
        "success": F.lit(False),
        "error": error,
    }
    cols = []
    for f in RESULT_SCHEMA.fields:
        if f.name in computed:
            cols.append(computed[f.name].alias(f.name))
        elif f.name in miss.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:  # title/markdown/text/links/discovery/... : all null
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return miss.select(*cols)


def transport_fetch(scheduled: DataFrame, transport) -> DataFrame:
    """S2 live-path fetch stage: one mapInPandas pass over the
    scheduled wave calling the injected transport (transport.py seam)
    per Arrow batch. The F9 ``attempt`` column drives the S3 retry
    ladder exactly as scrapeWithRetriesPlaywright does
    (scrape/service.go:91-119): strategy = ladder[attempt] and the
    deterministic header profile keyed by url_hash are resolved HERE
    and handed to the transport. Output = scheduled columns + html,
    the same shape fetch_join produces, so the extractor and the whole
    downstream wave are identical between batch and live mode."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from supacrawler_spark import fetchprofiles as FP

    schema = StructType(list(scheduled.schema.fields)
                        + [StructField("html", BinaryType())])

    def run(batches):
        for pdf in batches:
            strategies = [FP.strategy_name(a) for a in pdf["attempt"]]
            sub = pd.DataFrame({
                "url": pdf["url"].tolist(),
                "attempt": pdf["attempt"].tolist(),
                "strategy": strategies,
                "user_agent": [
                    FP.profile_name_tuple(s, k)[0]
                    for s, k in zip(strategies, pdf["url_hash"])],
            })
            bodies = transport.fetch(sub)
            out = pdf.copy()
            out["html"] = [
                None if b is None else bytes(b) for b in bodies]
            yield out

    return scheduled.mapInPandas(run, schema)


# Rows per extraction output frame. A page's result row (markdown, text,
# links, metadata) takes several times its html as Python objects, and
# the Arrow conversion of the frame about as much again. Yielded as one
# frame, a 1,000-row batch of 12-34 KB synthetic pages raised a worker's
# peak resident memory by ~230 MB; in 128-row frames, by ~48 MB. The
# workers' allocator settings (session.py) keep freed memory, so each
# worker's peak lasts as long as the worker.
_OUT_ROWS = 128


def make_extractor(include_html: bool, fresh: bool):
    """Build the wave-extraction mapInPandas function.

    Per scheduled row (oracle.py spec):
    - status 200/404 by corpus presence; 403 when fresh && robots-blocked
      (ScrapeURL, scrape/service.go:71-75);
    - pattern-rejected seeds: no result, no error, still expanded
      (streamCrawl 470-503);
    - success iff markdown >= 10 chars (isValidResult 648-668), else
      ERR_LOW_QUALITY;
    - `discovery` (expansion links) iff html && robots allows the
      page (mapper OnRequest 175-195); the depth gate applies at
      expansion so stored discovery is reusable by the scrape cache.
    """

    out_cols = [f.name for f in RESULT_SCHEMA.fields]

    def extract(batches):
        for pdf in batches:
            # column-wise input access + dict-of-lists output: row-dict
            # marshalling dominated the Arrow batch cost before
            cols = {c: pdf[c].tolist() for c in
                    ("url", "iter", "depth", "crawl_ord", "seed_rank",
                     "seed_host", "host", "url_hash", "parent_ord",
                     "link_pos", "attempt", "pattern_ok", "robots_ok",
                     "html")}
            out = {c: [] for c in out_cols}
            for i in range(len(pdf)):
                if len(out["url"]) == _OUT_ROWS:
                    yield pd.DataFrame(out, columns=out_cols)
                    out = {c: [] for c in out_cols}
                html_b = cols["html"][i]
                html = (bytes(html_b).decode("utf-8", "replace")
                        if html_b is not None else None)
                status = 200 if html is not None else 404
                is_seed = cols["parent_ord"][i] == -1
                pattern_ok = bool(cols["pattern_ok"][i]) if is_seed else True
                robots_ok = bool(cols["robots_ok"][i])
                r_url = cols["url"][i]

                success = False
                error = None
                title = markdown = text = None
                links = None
                discovered = None
                metadata = None
                # ONE shared (unmutated) DOM parse for markdown + text
                # + hrefs; the markdown pipeline's boilerplate strip is
                # copy-on-prune, so the tree is safe to reuse (r6: the
                # second parse was ~45% of kernel CPU)
                root = H.parse_html(html) if html is not None else None

                if pattern_ok:
                    if fresh and not robots_ok:
                        error = ERR_ROBOTS
                        status = 403
                    elif html is None:
                        error = ERR_LOW_QUALITY
                    else:
                        markdown = H.crawl_markdown(html, root=root)
                        if len(markdown.strip()) < 10:
                            error = ERR_LOW_QUALITY
                            markdown = None
                        else:
                            success = True
                            text = H.extract_text(root=root)
                            links = H.extract_links(html, r_url)
                            discovered = len(links)
                            title = H.extract_title(html)
                            metadata = H.extract_metadata(html, r_url, 200)

                discovery = None
                # depth-gating happens at expansion (expand_candidates)
                # so stored discovery is depth-independent and reusable
                # by the scrape cache (J3)
                if html is not None and robots_ok:
                    seen_local = set()
                    discovery = []
                    for href in H.extract_hrefs(root=root):
                        link = U.discover_link(r_url, href)
                        if link and link not in seen_local:
                            seen_local.add(link)
                            discovery.append(link)
                    # local pre-dedup is safe: global first-seen dedup
                    # keeps min (parent_ord, link_pos) and duplicate
                    # hrefs on one page collapse to their first pos,
                    # exactly as the mapper's `links` set does.

                out["url"].append(r_url)
                out["iter"].append(int(cols["iter"][i]))
                out["depth"].append(int(cols["depth"][i]))
                out["crawl_ord"].append(int(cols["crawl_ord"][i]))
                out["seed_rank"].append(int(cols["seed_rank"][i]))
                out["seed_host"].append(cols["seed_host"][i])
                out["host"].append(cols["host"][i])
                out["url_hash"].append(int(cols["url_hash"][i]))
                out["parent_ord"].append(int(cols["parent_ord"][i]))
                out["link_pos"].append(int(cols["link_pos"][i]))
                out["attempt"].append(int(cols["attempt"][i]))
                out["status_code"].append(status)
                out["success"].append(success)
                out["error"].append(error)
                out["title"].append(title)
                out["markdown"].append(markdown)
                out["text"].append(text)
                out["links"].append(links)
                out["discovery"].append(discovery)
                out["discovered"].append(discovered)
                out["metadata"].append(metadata)
                out["html"].append(html_b if include_html else None)
            yield pd.DataFrame(out, columns=out_cols)

    return extract


def expand_candidates(
    results: DataFrame,
    include_subdomains: bool,
    patterns,
    robots_df: "DataFrame | None",
    max_depth: int = 10**9,
) -> DataFrame:
    """Explode `discovery` into next-wave frontier candidates and apply
    the mapper's emission filters (mapper/service.go:127-152):
    domain scope vs seed host -> robots -> patterns. Only pages below
    the depth limit expand (colly MaxDepth, mapper/service.go:41).
    Dedup/cap happen in the plan (they need global state)."""
    cand = results.filter(
        F.col("discovery").isNotNull() & (F.size("discovery") > 0)
        & (F.col("depth") < max_depth)
    ).select(
        F.col("crawl_ord").alias("parent_ord"),
        (F.col("depth") + 1).alias("depth"),
        "seed_rank", "seed_host",
        F.posexplode("discovery").alias("link_pos", "url"),
    )
    # ONE fused Arrow pass for host+hash+domain-scope; discovery URLs
    # are already normalized — the kernel does NOT re-clean (a
    # re-applied cleanURL would mangle mailto:/javascript: links into
    # fake https hosts)
    cand = (cand.withColumn(
        "_ci", link_scope_info(include_subdomains)(
            F.col("url"), F.col("seed_host")))
            .withColumn("host", F.col("_ci.host"))
            .withColumn("url_hash", F.col("_ci.url_hash"))
            .filter(F.col("_ci.in_scope"))
            .drop("_ci"))
    if robots_df is not None:
        rules = robots_df.select("host", "allow_prefixes", "disallow_prefixes")
        cand = cand.join(F.broadcast(rules), "host", "left")
        cand = cand.filter(robots_allowed_udf(
            F.col("url"), F.col("disallow_prefixes"), F.col("allow_prefixes"))
        ).drop("allow_prefixes", "disallow_prefixes")
    cand = cand.filter(match_patterns_udf(patterns)(F.col("url")))
    return (cand.withColumn("priority", F.lit(0.0))
            .withColumn("attempt", F.lit(0)))
