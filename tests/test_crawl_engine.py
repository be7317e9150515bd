"""Trace-equivalence suite: Spark engine vs the deterministic oracle
(SURVEY.md §5.2.1). Asserts, per parameter combination:

- ordered crawl trace (crawl_ord, iter, depth, url, status) — exact;
- URL-seen set — exact;
- per-url markdown AND text — byte-identical (input_hint invariant);
- result links arrays + statistics — exact.
"""

import pytest

from supacrawler_spark.oracle import crawl_oracle
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.sources import gen_seeds
from supacrawler_spark.sources.synth import host_name, n_hosts


def _assert_equivalent(run, orc):
    etrace = [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code)
              for r in run.trace.collect()]
    assert etrace == orc.trace, (
        f"trace diverges: engine {len(etrace)} rows, oracle "
        f"{len(orc.trace)} rows; first diff: "
        f"{next(((a, b) for a, b in zip(etrace, orc.trace) if a != b), None)}")
    eseen = {r.url for r in run.seen.collect()}
    assert eseen == orc.seen
    epages = {r.url: r for r in run.results.collect()}
    assert set(epages) == set(orc.pages)
    for u, rec in orc.pages.items():
        e = epages[u]
        assert e.markdown == rec["markdown"], f"markdown bytes differ for {u}"
        assert e.text == rec["text"], f"text bytes differ for {u}"
        assert list(e.links or []) == rec["links"], f"links differ for {u}"
        assert e.title == rec["title"]
    eerrs = {r.url: r.error for r in run.errors.collect()}
    assert eerrs == orc.errors
    for k in ("total_pages", "successful_pages", "failed_pages"):
        assert run.stats[k] == orc.stats[k]


def _run_case(spark, web, params, politeness=None, robots=False,
              dangling=False, **kw):
    from supacrawler_spark.sources import gen_politeness_df, gen_robots_df

    pages_df, pages_local, n_docs = web
    seeds = gen_seeds(n_docs, k=2, include_dangling=dangling)
    pol_df = pol_dict = None
    if politeness is not None:
        pol_df = gen_politeness_df(spark, max_parallel=politeness)
        pol_dict = {host_name(h): politeness for h in range(n_hosts())}
    rob_df = rob_rules = None
    if robots:
        rob_df = gen_robots_df(spark)
        rob_rules = {host_name(h): {"allow": [], "disallow": ["/product/"]}
                     for h in range(n_hosts())}
    orc = crawl_oracle(pages_local, seeds, params, politeness=pol_dict,
                       robots_rules=rob_rules)
    run = run_crawl(spark, pages_df, seeds, params, politeness_df=pol_df,
                    robots_df=rob_df, **kw)
    _assert_equivalent(run, orc)
    return run, orc


def test_default_single_wave(spark, web):
    # depth default 1: seed + its links, no second-level expansion
    run, orc = _run_case(spark, web, CrawlParams(depth=1, link_limit=15))
    assert max(r[2] for r in orc.trace) <= 1


def test_depth2_budget(spark, web):
    _run_case(spark, web, CrawlParams(depth=2, link_limit=40))


def test_patterns(spark, web):
    run, orc = _run_case(
        spark, web, CrawlParams(depth=3, patterns=("/blog/*", "/docs/*"),
                                link_limit=30))
    # every non-seed fetched url must match a pattern
    for _, _, depth, url, _ in orc.trace:
        if depth > 0:
            assert "/blog" in url or "/docs" in url


def test_subdomains(spark, web):
    _run_case(spark, web,
              CrawlParams(depth=2, include_subdomains=True, link_limit=30))


def test_tight_politeness_defers(spark, web):
    run, orc = _run_case(spark, web, CrawlParams(depth=2, link_limit=25),
                         politeness=2)
    # with per-host budget 2 the same crawl takes more waves
    assert run.stats["waves"] >= 2


def test_robots(spark, web):
    run, orc = _run_case(spark, web, CrawlParams(depth=2, link_limit=30),
                         robots=True)
    # hosts covered by the robots table never fetch /product/; www-
    # variant hosts are NOT covered (rules are per exact host, like
    # real robots.txt which is per-origin) and may pass
    from supacrawler_spark import urlkit as U
    from supacrawler_spark.sources.synth import host_name, n_hosts
    covered = {host_name(h) for h in range(n_hosts())}
    seed_urls = {s[0] for s in gen_seeds(web[2], k=2)}
    for u in orc.seen:
        if U.extract_host(u) in covered and u not in seed_urls:
            assert "/product/" not in u


def test_robots_fresh_fetch_gate(spark, web):
    _run_case(spark, web, CrawlParams(depth=2, link_limit=30, fresh=True),
              robots=True)


def test_link_limit_one(spark, web):
    run, orc = _run_case(spark, web, CrawlParams(depth=2, link_limit=1))
    assert orc.stats["successful_pages"] <= 1


def test_dangling_seed_error_path(spark, web):
    run, orc = _run_case(spark, web, CrawlParams(depth=2, link_limit=10),
                         dangling=True)
    assert any(e == "filtered out low-quality content"
               for e in orc.errors.values())


def test_retry_failures_trace_equivalence(spark, web):
    """F9: with retry_failures on, failed fetches re-enter the frontier
    up to max_retries total attempts (crawl/service.go:564-571;
    TASK_MAX_RETRIES config.go:90) — trace-equivalent to the oracle,
    and the retries actually fire (dangling /void links 404 forever)."""
    from collections import Counter
    run, orc = _run_case(
        spark, web,
        CrawlParams(depth=3, link_limit=60, retry_failures=True))
    url_counts = Counter(t[3] for t in orc.trace)
    assert max(url_counts.values()) == 3, \
        "scenario must exhaust max_retries"


def test_retry_dangling_seed(spark, web):
    """A failing seed is itself retried (seeds bypass the known set on
    both sides)."""
    from collections import Counter
    run, orc = _run_case(
        spark, web,
        CrawlParams(depth=2, link_limit=40, retry_failures=True,
                    max_retries=2),
        dangling=True)
    seed_miss = "https://h1.example.org/void/seedmiss"
    url_counts = Counter(t[3] for t in orc.trace)
    assert url_counts[seed_miss] == 2


def test_shuffle_fetch_path_equals_broadcast(spark, web, monkeypatch):
    """Forcing the SHUFFLE_HASH fetch-join strategy (the large-wave
    path) must produce an identical crawl — the broadcast gate is a
    physical-plan choice only."""
    from supacrawler_spark.plans import crawl as crawl_mod

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=2, link_limit=40)
    run_b = run_crawl(spark, pages_df, seeds, params)
    monkeypatch.setattr(crawl_mod, "SMALL_WAVE_ROWS", 0)
    run_s = run_crawl(spark, pages_df, seeds, params)
    assert [tuple(r) for r in run_b.trace.collect()] == \
           [tuple(r) for r in run_s.trace.collect()]


def test_zero_budget_starvation_exits(spark, web):
    """A politeness budget of 0 starves every host: the oracle breaks
    on its first empty selection; the engine must do the same (no
    empty-wave spin to max_waves, no empty manifest lines)."""
    run, orc = _run_case(spark, web, CrawlParams(depth=2, link_limit=40),
                         politeness=0)
    assert orc.waves == []
    assert run.stats["waves"] == 0
    assert run.stats["urls_scheduled"] == 0


def test_bloom_off_equals_on(spark, web, monkeypatch):
    from supacrawler_spark.plans import crawl as crawl_mod

    # force the bloom branch to actually engage (the production
    # threshold is 100k discovered URLs — far above smoke scale)
    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", 0)
    pages_df, pages_local, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=2, link_limit=40)
    run_on = run_crawl(spark, pages_df, seeds, params, seen_filter="bloom")
    run_off = run_crawl(spark, pages_df, seeds, params, seen_filter="off")
    t_on = [tuple(r) for r in run_on.trace.collect()]
    t_off = [tuple(r) for r in run_off.trace.collect()]
    assert t_on == t_off


def test_cuckoo_filter_equals_off(spark, web, monkeypatch):
    """The cuckoo URL-seen pre-filter (north_rule's other named
    family) is a physical-plan choice only: with the engage threshold
    forced to 0 the cuckoo-filtered crawl must be trace-identical to
    the unfiltered exact anti-join."""
    from supacrawler_spark.plans import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", 0)
    pages_df, pages_local, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=2, link_limit=40)
    run_ck = run_crawl(spark, pages_df, seeds, params, seen_filter="cuckoo")
    run_off = run_crawl(spark, pages_df, seeds, params, seen_filter="off")
    assert [tuple(r) for r in run_ck.trace.collect()] == \
           [tuple(r) for r in run_off.trace.collect()]


def test_known_bucketed_equals_files(spark, web, monkeypatch):
    """The bucketed known-state table is a physical-plan choice only:
    forcing it from wave 0 (and with bloom active on top, plus a
    2-wave compaction cadence so the generation-rollover path runs)
    must produce the identical crawl to the frontier-file scan path."""
    from supacrawler_spark.plans import crawl as crawl_mod

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=80)
    base = run_crawl(spark, pages_df, seeds, params)
    t_base = [tuple(r) for r in base.trace.collect()]

    monkeypatch.setattr(crawl_mod, "KNOWN_TABLE_THRESHOLD", -1)
    monkeypatch.setattr(crawl_mod, "KNOWN_COMPACT_EVERY", 2)
    bucketed = run_crawl(spark, pages_df, seeds, params)
    assert [tuple(r) for r in bucketed.trace.collect()] == t_base

    monkeypatch.setattr(crawl_mod, "BLOOM_THRESHOLD", 0)
    both = run_crawl(spark, pages_df, seeds, params, seen_filter="bloom")
    assert [tuple(r) for r in both.trace.collect()] == t_base


def test_known_bucketed_resume(spark, web, monkeypatch):
    """Resume over a state dir mid-crawl with the bucketed known table
    engaged: the engage-time overwrite rebuild from committed frontier
    files must discard any stale/orphan table state and reproduce the
    uninterrupted trace."""
    import shutil
    import tempfile

    from supacrawler_spark.plans import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "KNOWN_TABLE_THRESHOLD", -1)
    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=3, link_limit=80)
    full = run_crawl(spark, pages_df, seeds, params)
    assert full.stats["waves"] >= 3
    state = tempfile.mkdtemp(prefix="known_resume_")
    try:
        run_crawl(spark, pages_df, seeds,
                  CrawlParams(depth=3, link_limit=80, max_waves=2),
                  state_dir=state)
        resumed = run_crawl(spark, pages_df, seeds, params,
                            state_dir=state, resume=True)
        assert [tuple(r) for r in resumed.trace.collect()] == \
               [tuple(r) for r in full.trace.collect()]
    finally:
        shutil.rmtree(state, ignore_errors=True)


def test_large_politeness_dim_broadcast_path(spark, web):
    """politeness_df dims above 1024 rows skip the collected-dict
    literal-MAP path and take the broadcast-join path
    (plans/crawl.py pol_arg gate + operators/frontier.py J4) — pad
    the real dim with 1500 phantom hosts to force it; the crawl must
    be identical."""
    from pyspark.sql import functions as F

    from supacrawler_spark.sources import gen_politeness_df

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=2, link_limit=30)
    pol = gen_politeness_df(spark, max_parallel=2)
    base = run_crawl(spark, pages_df, seeds, params, politeness_df=pol)

    phantoms = spark.range(1500).select(
        F.concat(F.lit("phantom"), F.col("id"), F.lit(".example.net"))
        .alias("host"),
        F.lit(2).cast("int").alias("max_parallel"),
        F.lit(500).cast("int").alias("delay_ms"))
    big = pol.unionByName(phantoms)
    run_big = run_crawl(spark, pages_df, seeds, params,
                        politeness_df=big)
    assert [tuple(r) for r in run_big.trace.collect()] == \
           [tuple(r) for r in base.trace.collect()]


def test_bucketized_corpus_equals_default(spark, web):
    """bucketize_pages (the Iceberg bucket-partitioning stand-in for
    the corpus side) + pages_prepared=True must produce the identical
    crawl — including through the forced SHUFFLE_HASH fetch path,
    where the bucketed corpus is the one whose shuffle disappears."""
    import pytest

    from supacrawler_spark.plans import crawl as crawl_mod
    from supacrawler_spark.plans.crawl import bucketize_pages

    pages_df, _, n_docs = web
    seeds = gen_seeds(n_docs, k=2)
    params = CrawlParams(depth=2, link_limit=40)
    base = run_crawl(spark, pages_df, seeds, params)
    t_base = [tuple(r) for r in base.trace.collect()]

    bucketed = bucketize_pages(spark, pages_df,
                               table="pages_bucketed_test", n_buckets=8)
    try:
        run_b = run_crawl(spark, bucketed, seeds, params,
                          pages_prepared=True, cache_pages=False)
        assert [tuple(r) for r in run_b.trace.collect()] == t_base

        mp = pytest.MonkeyPatch()
        try:
            mp.setattr(crawl_mod, "SMALL_WAVE_ROWS", 0)
            run_s = run_crawl(spark, bucketed, seeds, params,
                              pages_prepared=True, cache_pages=False)
        finally:
            mp.undo()
        assert [tuple(r) for r in run_s.trace.collect()] == t_base
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_test")


def test_unlimited_terminates_and_matches(spark, web):
    run, orc = _run_case(spark, web, CrawlParams(depth=3))
    assert run.stats["waves"] == len(orc.waves)
