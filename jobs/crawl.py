"""spark-submit entry point for the crawl engine.

Packaging (north_rule: spark-submit --py-files on a multi-executor cluster):

    zip -r grawler.zip grawler          # from the repository root
    spark-submit --master <cluster> --py-files grawler.zip \\
        jobs/crawl.py --warehouse /path/state --waves 10 \\
        --pages /path/pages --robots /path/robots --images /path/images \\
        --seeds /path/seeds.json

Crawl state lives in the engine's default LocalSnapshotStore under
--warehouse (Parquet tables plus JSON lineage manifests; --resume continues
from the last committed wave). The job does not use IcebergSnapshotStore;
its SQL is shown by tools/gen_iceberg_log.py (docs/ICEBERG_STATEMENTS.md).

With no pages/robots corpus at hand the same job runs against the
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
    cfg = CrawlConfig()

    if args.synthetic:
        from grawler import synthgen

        web = synthgen.generate(seed=args.seed, n_pages=args.synthetic,
                                shape=args.shape)
        eng, seeds = build_engine(spark, web, args.warehouse, cfg)
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
                          robots_cache_init=robots, fetcher=fetcher)

    res = eng.run(seeds, max_waves=args.waves, resume=args.resume)
    n_seen = res.seen().count() if res.seen() is not None else 0
    n_store = res.store().count() if res.store() is not None else 0
    print(f"crawl finished: waves={res.waves} seen={n_seen} stored={n_store}")


if __name__ == "__main__":
    main()
