#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine.

Cluster deployment (north_rule):

    zip -r crawlspark.zip crawlspark
    spark-submit --py-files crawlspark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        run_crawl.py --pages s3://bucket/pages --seeds s3://bucket/seeds \\
        --robots s3://bucket/robots --store /mnt/shared/crawl_state \\
        --n-buckets 4096 --round-wall 60

The state store commits with ``os.rename``, so ``--store`` is a local or
shared-mount POSIX path; a URI (``s3://...``) is rejected.

At-scale corpus layout (one-time, then crawl against the table — big
slices join bucket-in-place, tiny slices point-lookup via pushed In +
url blooms):

    run_crawl.py --pages s3://bucket/pages \\
        --write-bucketed-table pages_b --buckets 4096 --store /dev/null
    run_crawl.py --pages-table pages_b --seeds ... --store ...

Local smoke:

    python run_crawl.py --synthetic 1000 --store /tmp/crawl_state

Re-invoking with the same --store resumes a killed run.
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="crawlspark distributed crawl")
    ap.add_argument("--pages", help="parquet/iceberg path of the pages corpus")
    ap.add_argument("--pages-table",
                    help="name of a url-BUCKETED pages table (written by "
                         "--write-bucketed-table): big-slice fetch joins then "
                         "read the corpus bucket-in-place — zero corpus-side "
                         "shuffle per round, the at-scale F1 layout")
    ap.add_argument("--write-bucketed-table", metavar="NAME",
                    help="one-time layout job: rewrite --pages as url-bucketed "
                         "table NAME (fetch.write_bucketed_pages) and exit")
    ap.add_argument("--buckets", type=int, default=64,
                    help="bucket count for --write-bucketed-table (size so one "
                         "bucket ~ a few GB at the target corpus)")
    ap.add_argument("--seeds", help="parquet path of seeds (url, priority, seq)")
    ap.add_argument("--robots", help="parquet path of robots rules")
    ap.add_argument("--store", required=True,
                    help="state-store root: a local or shared-mount path")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate an N-page synthetic site instead of --pages")
    ap.add_argument("--max-rounds", type=int, default=1000)
    ap.add_argument("--round-wall", type=float, default=60.0)
    ap.add_argument("--per-host-cap", type=int, default=30)
    ap.add_argument("--max-depth", type=int, default=1)
    ap.add_argument("--host-quota", type=int, default=None,
                    help="lifetime cap on fetched urls per host (P5 static "
                         "quota); backlog past the quota stays queued")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--emit-text", action="store_true",
                    help="corpus-building mode: persist byte-identical "
                         "extracted text per fetched url to the `corpus` "
                         "output table (crawl -> Common-Crawl-style corpus)")
    ap.add_argument("--vacuum-every", type=int, default=16,
                    help="GC old snapshots/tee dirs every N rounds (0 = keep "
                         "full time-travel history)")
    ap.add_argument("--warc", help="directory of .warc/.warc.gz segments to "
                                   "use as the pages corpus (Common Crawl "
                                   "layout) instead of --pages")
    args = ap.parse_args()
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", args.store):
        ap.error(f"--store {args.store}: the state store commits with "
                 "os.rename and needs a local or shared-mount path, not a URI")

    import os

    from pyspark.sql import SparkSession

    from crawlspark.runner import CrawlRunner
    from crawlspark.scheduler import CrawlConfig
    from crawlspark.schema import PAGES, ROBOTS, SEEDS

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # under spark-submit (PythonRunner exports the gateway port): the
        # session master/conf come from the launcher — don't override them
        spark = SparkSession.builder.appName("crawlspark").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    else:
        # plain `python run_crawl.py` (local smoke): a bare builder would
        # fall back to Spark's defaults — 200 shuffle partitions turned the
        # 1000-page smoke into 1600-task stages. Use the tuned local
        # factory (AQE, cores-sized shuffle, Arrow batch caps).
        from crawlspark.session import get_spark

        spark = get_spark("crawlspark")

    if args.write_bucketed_table:
        if not args.pages:
            ap.error("--pages required with --write-bucketed-table")
        from crawlspark.fetch import write_bucketed_pages

        src = spark.read.parquet(args.pages)
        write_bucketed_pages(src, args.write_bucketed_table,
                             buckets=args.buckets)
        print(json.dumps({"bucketed_table": args.write_bucketed_table,
                          "buckets": args.buckets,
                          "rows": spark.table(args.write_bucketed_table).count()}))
        return 0

    cfg = CrawlConfig(
        round_wall=args.round_wall,
        per_host_cap=args.per_host_cap,
        max_depth=args.max_depth,
        n_buckets=args.n_buckets,
        vacuum_every=args.vacuum_every,
        emit_text=args.emit_text,
        host_quota=args.host_quota,
    )
    if args.synthetic:
        from crawlspark.synth import SiteSpec, generate_site

        per_list = 25
        n_hosts = max(1, args.synthetic // 500)
        site = generate_site(SiteSpec(
            n_hosts=n_hosts,
            lists_per_host=max(1, args.synthetic // (n_hosts * (per_list + 1))),
            per_list=per_list,
        ))
        pages = spark.createDataFrame(site["pages"], schema=PAGES)
        seeds = spark.createDataFrame(site["seeds"], schema=SEEDS)
        robots = spark.createDataFrame(site["robots"], schema=ROBOTS)
    elif args.warc:
        if not args.seeds:
            ap.error("--seeds required with --warc")
        from crawlspark.warc import warc_to_pages

        # NOTE: the WARC parse re-runs per round the corpus is joined; for
        # multi-round crawls, land warc_to_pages output to parquet once and
        # pass it as --pages instead (parquet scans then get column pruning
        # + bloom filters the WARC kernel can't offer)
        pages = warc_to_pages(spark, args.warc)
        seeds = spark.read.parquet(args.seeds)
        if args.robots:
            robots = spark.read.parquet(args.robots)
        else:
            from crawlspark.robots import robots_from_pages

            robots = robots_from_pages(pages, strict=False)
    else:
        if not ((args.pages or args.pages_table) and args.seeds):
            ap.error("--pages/--pages-table + --seeds required unless "
                     "--synthetic (--robots optional: derived from the "
                     "corpus's /robots.txt pages when omitted)")
        pages = (spark.table(args.pages_table) if args.pages_table
                 else spark.read.parquet(args.pages))
        seeds = spark.read.parquet(args.seeds)
        if args.robots:
            robots = spark.read.parquet(args.robots)
        else:
            # derive the politeness table from the corpus's own
            # /robots.txt pages (reference: per-domain fetch+parse with
            # urllib.robotparser, default-allow on absence)
            from crawlspark.robots import robots_from_pages

            robots = robots_from_pages(pages, strict=False)

    runner = CrawlRunner(spark, args.store, cfg)
    already_seeded = runner.store.last_committed_round() is not None
    if not already_seeded:
        runner.init(seeds)
    res = runner.run(pages, robots, max_rounds=args.max_rounds)
    print(json.dumps({
        "rounds": res.rounds,
        "fetched": res.total_fetched,
        "resumed": already_seeded,
        "per_round": res.counts,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
