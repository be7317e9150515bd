"""Engine vs oracle over a matrix of crawl parameters: one line per
case, OK when trace, seen set, page set, extracted bytes and stats all
equal crawl_oracle's.

Usage: python scripts/smoke_matrix.py
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from supacrawler_spark.session import get_spark, machine_heap
from supacrawler_spark.sources import gen_pages_df, gen_seeds, gen_robots_df, gen_politeness_df
from supacrawler_spark.params import CrawlParams
from supacrawler_spark.plans import run_crawl
from supacrawler_spark.plans.crawl import SEED_DIM_THRESHOLD
from supacrawler_spark.oracle import crawl_oracle
from supacrawler_spark.sources.synth import host_name

os.environ.setdefault("SPARK_DRIVER_MEMORY", machine_heap())
spark = get_spark(master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
pages_df, n_docs = gen_pages_df(spark, "/root/testdata/sf0.001")
pages_local = {r["url"]: bytes(r["html"]).decode() for r in pages_df.select("url", "html").collect()}
seeds = gen_seeds(n_docs, k=2)

def bulk_seeds(sds):
    """A list above SEED_DIM_THRESHOLD (the list-to-dim seed path): the
    corpus seeds, distinct off-corpus seeds, and repeats of both (a
    repeat with a lower rank, a #fragment variant)."""
    extra = [(f"https://bulk{i}.example.net/p{i}", 100 + i)
             for i in range(SEED_DIM_THRESHOLD + 50)]
    dups = [(sds[0][0] + "#frag", 5000), (extra[0][0], 50), (sds[1][0], 5001)]
    return sds + extra + dups


def robots_rules():
    return {host_name(h): {"allow": [], "disallow": ["/product/"]} for h in range(42)}

cases = [
    ("depth3_unlimited", CrawlParams(depth=3), {}, {}),
    ("patterns", CrawlParams(depth=3, patterns=("/blog/*", "/docs/*")), {}, {}),
    ("subdomains", CrawlParams(depth=2, include_subdomains=True, link_limit=30), {}, {}),
    ("tight_politeness", CrawlParams(depth=2, link_limit=25), {"budget": 2}, {}),
    ("robots", CrawlParams(depth=2, link_limit=30), {}, {"robots": True}),
    ("robots_fresh", CrawlParams(depth=2, link_limit=30, fresh=True), {}, {"robots": True}),
    ("limit1", CrawlParams(depth=2, link_limit=1), {}, {}),
    ("dangling_seed", CrawlParams(depth=2, link_limit=10), {}, {"dangle": True}),
    ("no_bloom", CrawlParams(depth=2, link_limit=40), {}, {"bloom": False}),
    ("seed_list_dim", CrawlParams(depth=2, link_limit=40), {}, {"bulk": True}),
]

for name, params, pol, opt in cases:
    t0 = time.time()
    p_budget = pol.get("budget")
    pol_df = gen_politeness_df(spark, max_parallel=p_budget) if p_budget else None
    pol_dict = {host_name(h): p_budget for h in range(42)} if p_budget else None
    rob_df = gen_robots_df(spark) if opt.get("robots") else None
    rob_rules = robots_rules() if opt.get("robots") else None
    sds = gen_seeds(n_docs, k=2, include_dangling=opt.get("dangle", False))
    if opt.get("bulk"):
        sds = bulk_seeds(sds)
    orc = crawl_oracle(pages_local, sds, params, politeness=pol_dict, robots_rules=rob_rules)
    run = run_crawl(spark, pages_df, sds, params, politeness_df=pol_df,
                    robots_df=rob_df,
                    seen_filter="bloom" if opt.get("bloom", True) else "off")
    etrace = [(r.crawl_ord, r.iter, r.depth, r.url, r.status_code) for r in run.trace.collect()]
    eseen = {r.url for r in run.seen.collect()}
    epages = {r.url: r for r in run.results.collect()}
    trace_ok = etrace == orc.trace
    seen_ok = eseen == orc.seen
    set_ok = set(epages) == set(orc.pages)
    bytes_ok = all(epages[u].markdown == rec["markdown"] and epages[u].text == rec["text"]
                   for u, rec in orc.pages.items()) if set_ok else False
    stats_ok = all(run.stats[k] == orc.stats[k] for k in orc.stats)
    status = "OK " if all([trace_ok, seen_ok, set_ok, bytes_ok, stats_ok]) else "FAIL"
    print(f"{status} {name:18s} trace={trace_ok} seen={seen_ok} set={set_ok} bytes={bytes_ok} stats={stats_ok}"
          f" sched={run.stats['urls_scheduled']} succ={run.stats['successful_pages']} waves={run.stats['waves']} {round(time.time()-t0,1)}s")
    if not trace_ok:
        for i,(a,b) in enumerate(zip(etrace, orc.trace)):
            if a!=b: print("  first diff @",i,"eng",a,"orc",b); break
        print("  len", len(etrace), len(orc.trace))
