"""spark-submit entry point for the crawl engine.

Packaging (north_rule: spark-submit --py-files on a multi-executor cluster):

    cd /root/repo && zip -r grawler.zip grawler
    spark-submit --master <cluster> --py-files grawler.zip \\
        --conf spark.sql.catalog.crawl=org.apache.iceberg.spark.SparkCatalog \\
        --conf spark.sql.catalog.crawl.type=hadoop \\
        --conf spark.sql.catalog.crawl.warehouse=/path/wh \\
        jobs/crawl.py --warehouse /path/state --waves 10 \\
        --pages /path/pages --robots /path/robots --images /path/images \\
        --seeds /path/seeds.json

In this sandbox (no Iceberg jar, no network) the same job runs against the
deterministic synthetic web: pass --synthetic N to generate it in-process.
"""

from __future__ import annotations

import argparse
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--waves", type=int, default=10)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate an N-page synthetic web instead of "
                         "reading --pages/--robots/--images")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--shape", default="mixed")
    ap.add_argument("--pages")
    ap.add_argument("--robots")
    ap.add_argument("--images")
    ap.add_argument("--seeds")
    ap.add_argument("--http", action="store_true",
                    help="fetch pages and robots.txt via real batched HTTP "
                         "(grawler.fetch.HttpFetcher) instead of the "
                         "fetch-sim join against --pages/--robots")
    ap.add_argument("--bucket-target-rows", type=int, default=1 << 20,
                    help="target rows per bucket for the bucketed "
                         "seen/store_keys layout; compaction grows the "
                         "bucket count to hold this (probe-cost bound)")
    ap.add_argument("--initial-buckets", type=int, default=64,
                    help="bucket count for the seen/store_keys layout "
                         "before the first compaction")
    ap.add_argument("--compact-every", type=int, default=8,
                    help="compaction period in waves (merge + bucketed "
                         "tables)")
    ap.add_argument("--probe-broadcast-rows", type=int, default=1 << 20,
                    help="max probe rows for the zero-shuffle broadcast "
                         "exact check; larger probes use the "
                         "pruned-subset shuffle join")
    args = ap.parse_args()

    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    from grawler.conf import CrawlConfig
    from grawler.engine import CrawlEngine, build_engine

    if SparkConf().get("spark.master", None):
        # under spark-submit: respect the submitted master/conf
        spark = SparkSession.builder.appName("grawler-crawl").getOrCreate()
    else:
        # standalone `python jobs/crawl.py`: local session
        from grawler.session import get_spark

        spark = get_spark("grawler-crawl")
    cfg = CrawlConfig(seen_probe_broadcast_rows=args.probe_broadcast_rows)

    def _store(warehouse):
        from grawler.store import LocalSnapshotStore

        return LocalSnapshotStore(
            spark, warehouse, compact_every=args.compact_every,
            initial_buckets=args.initial_buckets,
            bucket_target_rows=args.bucket_target_rows)

    if args.synthetic:
        from grawler import synthgen

        web = synthgen.generate(seed=args.seed, n_pages=args.synthetic,
                                shape=args.shape)
        eng, seeds = build_engine(spark, web, args.warehouse, cfg)
        eng.state = _store(args.warehouse)
    else:
        fetcher = None
        if args.http:
            from grawler.fetch import HttpFetcher

            fetcher = HttpFetcher(user_agent=cfg.user_agent,
                                  timeout_s=cfg.http_timeout_s)
            pages = robots = None
        else:
            pages = spark.read.parquet(args.pages)
            robots = spark.read.parquet(args.robots)
        images = spark.read.parquet(args.images)
        seeds = spark.read.json(args.seeds).select("url")
        eng = CrawlEngine(spark, pages, robots, images, args.warehouse, cfg,
                          robots_cache_init=robots, fetcher=fetcher,
                          state_store=_store(args.warehouse))

    res = eng.run(seeds, max_waves=args.waves, resume=args.resume)
    n_seen = res.seen().count() if res.seen() is not None else 0
    n_store = res.store().count() if res.store() is not None else 0
    print(f"crawl finished: waves={res.waves} seen={n_seen} stored={n_store}")


if __name__ == "__main__":
    main()
