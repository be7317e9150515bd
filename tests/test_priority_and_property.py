"""Priority-queue frontier + randomized-corpus property tests."""

import pytest

from supacrawler_spark import urlkit as U
from supacrawler_spark.oracle import crawl_oracle
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.sources import gen_seeds


def test_priority_column_orders_frontier(spark, web):
    """The frontier is a priority queue (north_star): rows with higher
    priority are fetched first within a wave. Default priority is 0
    (pure BFS, oracle-matched); here we check the ordering contract
    directly on the politeness operator."""
    from supacrawler_spark.operators.frontier import politeness_select
    from supacrawler_spark.schemas import FRONTIER_SCHEMA

    rows = []
    for i in range(20):
        url = f"https://h.example.org/p{i}"
        rows.append((url, "h.example.org", U.url_hash64(url), 1, 0, i, 0,
                     "h.example.org", 1.0 if i >= 10 else 0.0, 0))
    f = spark.createDataFrame(rows, FRONTIER_SCHEMA)
    selected, deferred, _ = politeness_select(f, None, default_budget=10,
                                           hint_count=20)
    sel = {r.url for r in selected.collect()}
    # the 10 high-priority rows win the budget despite higher link_pos
    assert sel == {f"https://h.example.org/p{i}" for i in range(10, 20)}
    assert deferred.count() == 10


def _random_corpus(seed: int, n: int = 60):
    """A small random web, built directly (independent of the synth
    generator) — a second opinion against generator-shaped bias."""
    import random
    rnd = random.Random(seed)
    hosts = [f"r{h}.test" for h in range(4)]
    urls = [f"https://{hosts[i % 4]}/d{i // 4}/p{i}" for i in range(n)]
    pages = {}
    for i, u in enumerate(urls):
        k = rnd.randint(0, 6)
        hrefs = []
        for _ in range(k):
            t = rnd.randrange(n + 5)  # +5 -> some dangling
            if t < n:
                hrefs.append(urls[t] if rnd.random() < 0.7
                             else f"/d{t // 4}/p{t}")
            else:
                hrefs.append(f"/void/{t}")
        body = " ".join(f"w{rnd.randrange(50)}" for _ in range(30))
        anchors = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        pages[u] = (f"<html><head><title>T{i}</title></head>"
                    f"<body><p>{body}</p><p>{anchors}</p></body></html>")
    return pages, urls


def _pages_df(spark, pages, urls):
    rows = [(u, None, h.encode(), "", "en")
            for u, h in ((u, pages[u]) for u in urls)]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string,"
        " lang string")


@pytest.mark.parametrize("seed", [7, 23])
def test_random_graph_engine_matches_oracle(spark, seed):
    pages, urls = _random_corpus(seed)
    pages_df = _pages_df(spark, pages, urls)
    seeds = [(urls[0], 0), (urls[1], 1)]
    params = CrawlParams(depth=3, link_limit=25)
    orc = crawl_oracle(pages, seeds, params)
    run = run_crawl(spark, pages_df, seeds, params)
    etrace = [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code)
              for r in run.trace.collect()]
    assert etrace == orc.trace
    assert {r.url for r in run.seen.collect()} == orc.seen
    # invariants (SURVEY §5.2.3)
    assert len(orc.seen) == len(orc.trace)          # no url crawled twice
    assert orc.stats["successful_pages"] <= 25      # |results| <= limit


@pytest.mark.parametrize("seed,dim", [(11, False), (31, False), (47, True)])
def test_multi_seed_random_graph(spark, seed, dim, monkeypatch):
    """Multi-seed contention hardening (VERDICT r3 #6): >=5 seeds over
    a shared random graph — seeds land on shared subtrees (J5 min-K
    contention), one seed is duplicated, and seeds are routinely also
    discovered links (the known-set exclusion path). Engine == oracle,
    in both seed-path modes."""
    import random
    rnd = random.Random(seed * 991)
    pages, urls = _random_corpus(seed, n=80)
    picks = rnd.sample(range(len(urls)), 5)
    seeds = [(urls[p], r) for r, p in enumerate(picks)]
    params = CrawlParams(depth=3, link_limit=30)
    # force a seed==discovered-link collision BY CONSTRUCTION: the 6th
    # seed is a url the 5-seed crawl discovers (first depth>0 trace
    # row) — in the 6-seed crawl its parent page still emits it (it
    # consumes discovery budget) but the processed map rejects it from
    # the next frontier (the seed/known-set exclusion path)
    pre = crawl_oracle(pages, seeds, params)
    discovered = [t[3] for t in pre.trace if t[2] > 0]
    assert discovered, "fixture must discover at least one link"
    seeds.append((discovered[0], 5))
    seeds.append((urls[picks[0]], 9))          # duplicate seed
    seeds.append((urls[picks[1]] + "#f", 11))  # dup via canonicalization
    orc = crawl_oracle(pages, seeds, params)
    if dim:
        from supacrawler_spark.plans import crawl as crawl_mod
        monkeypatch.setattr(crawl_mod, "SEED_DIM_THRESHOLD", -1)
    run = run_crawl(spark, _pages_df(spark, pages, urls), seeds, params)
    etrace = [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code)
              for r in run.trace.collect()]
    assert etrace == orc.trace
    assert {r.url for r in run.seen.collect()} == orc.seen
    assert len(orc.seen) == len(orc.trace)
