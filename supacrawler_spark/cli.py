"""CLI entrypoint — the spark-submit surface (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage (local or cluster):

    # package once
    python scripts/make_dist.py              # -> dist/supacrawler_spark.zip

    # crawl
    spark-submit --py-files dist/supacrawler_spark.zip \
        dist/cli_main.py crawl \
        --pages /path/pages_parquet --seeds https://a.com,https://b.com \
        --depth 3 --link-limit 1000 --state-dir /path/state [--resume]

    # single-page scrape
    spark-submit --py-files dist/supacrawler_spark.zip \
        dist/cli_main.py scrape --pages /path/pages_parquet \
        --url https://a.com/x
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="supacrawler-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run an iterative crawl")
    c.add_argument("--pages", required=True,
                   help="parquet path of the pages corpus")
    c.add_argument("--seeds", required=True,
                   help="comma-separated seed URLs")
    c.add_argument("--depth", type=int, default=1)
    c.add_argument("--link-limit", type=int, default=0)
    c.add_argument("--patterns", default="",
                   help="comma-separated URL glob patterns")
    c.add_argument("--include-subdomains", action="store_true")
    c.add_argument("--include-html", action="store_true")
    c.add_argument("--fresh", action="store_true")
    c.add_argument("--state-dir", default=None)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--no-bloom", action="store_true",
                   help="run the exact seen anti-join without the Bloom "
                        "pre-filter (run_crawl seen_filter='off')")
    c.add_argument("--host-budget", type=int, default=10)
    c.add_argument("--output", default=None,
                   help="write results parquet here (else print stats)")

    s = sub.add_parser("scrape", help="scrape a single URL")
    s.add_argument("--pages", required=True)
    s.add_argument("--url", required=True)

    g = sub.add_parser("gen-pages", help="generate a synthetic corpus")
    g.add_argument("--sf-dir", required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--replicate", type=int, default=1)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from supacrawler_spark.session import get_spark

    spark = get_spark(app_name=f"supacrawler-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "gen-pages":
        from supacrawler_spark.sources import gen_pages_df
        df, n = gen_pages_df(spark, args.sf_dir, replicate=args.replicate)
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"pages": n, "out": args.out}))
        return 0

    pages = spark.read.parquet(args.pages)

    if args.cmd == "scrape":
        from supacrawler_spark.plans import scrape_one
        row = scrape_one(spark, pages, args.url).collect()[0]
        print(json.dumps({
            "url": row.url, "status_code": row.status_code,
            "success": row.success, "error": row.error,
            "title": row.title, "discovered": row.discovered,
            "markdown": (row.markdown or "")[:500],
        }))
        return 0

    from supacrawler_spark.params import CrawlParams
    from supacrawler_spark.plans import run_crawl

    seeds = [(u.strip(), i) for i, u in enumerate(args.seeds.split(","))
             if u.strip()]
    params = CrawlParams(
        depth=args.depth, link_limit=args.link_limit,
        include_subdomains=args.include_subdomains,
        include_html=args.include_html, fresh=args.fresh,
        patterns=tuple(x for x in args.patterns.split(",") if x))
    run = run_crawl(spark, pages, seeds, params,
                    state_dir=args.state_dir, resume=args.resume,
                    seen_filter="off" if args.no_bloom else "bloom",
                    default_host_budget=args.host_budget)
    if args.output:
        run.results.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"stats": run.stats, "state_dir": run.state_dir,
                      "run_id": run.run_id}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
