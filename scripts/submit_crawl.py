"""Cluster entry point — the north_rule deployment path:

    zip -r polipus_spark.zip polipus_spark/
    spark-submit --py-files polipus_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.shuffle.partitions=<2-4x total cores> \\
        scripts/submit_crawl.py \\
        --docs /path/to/docs_table --work-dir /path/to/state \\
        --seeds http://host0.example.com/ [--resume]

Runs a crawl session (or resumes one) against a docs corpus table of the
interleaved-spans shape (doc_id, spans, host, code, redirect_to). All crawl
state lands in snapshot tables under --work-dir; a killed job resumes
exactly with --resume.
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True, help="parquet path of the docs corpus")
    p.add_argument("--work-dir", required=True, help="state directory (snapshot tables)")
    p.add_argument("--seeds", nargs="*", default=[], help="seed URLs")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--depth-limit", type=int, default=None)
    p.add_argument("--max-waves", type=int, default=None)
    p.add_argument("--obey-robots", action="store_true")
    p.add_argument("--tracker", default="exact", choices=["exact", "bloom"])
    p.add_argument("--per-host-budget", type=int, default=None)
    p.add_argument("--salt-factor", type=int, default=1)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--no-signal-handler", action="store_true",
                   help="disable the default SIGINT/SIGTERM graceful stop "
                        "(finish current wave, commit, exit resumable)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from polipus_spark.config import CrawlOptions
    from polipus_spark.plans.crawler import PolipusCrawler

    spark = SparkSession.builder.appName("polipus_spark_crawl").getOrCreate()
    docs = spark.read.parquet(args.docs)
    opts = CrawlOptions(
        depth_limit=args.depth_limit,
        max_waves=args.max_waves,
        obey_robots_txt=args.obey_robots,
        tracker_mode=args.tracker,
        per_host_budget=args.per_host_budget,
        salt_factor=args.salt_factor,
        n_buckets=args.n_buckets,
        enable_signal_handler=not args.no_signal_handler,
    )
    crawler = PolipusCrawler(spark, docs, opts, args.work_dir)
    crawler.takeover(seeds=args.seeds or None, resume=args.resume)
    print("stats:", crawler.stats())
    for row in crawler.metrics.read().orderBy("wave").collect():
        print(dict(row.asDict()))


if __name__ == "__main__":
    main()
