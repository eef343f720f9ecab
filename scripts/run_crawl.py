"""spark-submit entry point for the crawl job (north_rule: "ships as
spark-submit --py-files").

Package the library and submit:

    scripts/make_pyfiles.sh                 # → dist/abwcf_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/abwcf_spark.zip \\
        scripts/run_crawl.py \\
        --corpus  <corpus.parquet> \\
        --robots  <robots.parquet> \\
        --seeds   <seeds.parquet> \\
        --checkpoint-dir <dir> [--resume] \\
        [--round-seconds 1.0] [--max-rounds 1000] [--n-salts 0] \\
        [--validate-payloads]

On a real cluster the same invocation takes --master yarn/k8s://… — the
job only talks to SparkSession, parquet paths, and the checkpoint dir.
Prints one JSON line with rounds, fetched count, and throughput.
"""

from __future__ import annotations

import argparse
import json
import time


def parse_args():
    p = argparse.ArgumentParser(description="ABWCF-spark crawl job")
    p.add_argument("--corpus", required=True)
    p.add_argument("--robots", required=True)
    p.add_argument("--seeds")
    p.add_argument("--checkpoint-dir")
    p.add_argument("--checkpoint-interval", type=int, default=5)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--round-seconds", type=float, default=1.0)
    p.add_argument("--max-rounds", type=int, default=1000)
    p.add_argument("--max-crawl-depth", type=int, default=2**31 - 1)
    p.add_argument("--n-salts", type=int, default=0)
    p.add_argument("--no-bloom", action="store_true")
    p.add_argument("--bloom-shards", type=int, default=16)
    p.add_argument("--frontier-buckets", type=int, default=None)
    p.add_argument("--parse-html", action="store_true")
    p.add_argument("--validate-payloads", action="store_true")
    return p.parse_args()


def main():
    args = parse_args()
    from pyspark.sql import SparkSession

    from abwcf_spark.config import CrawlConfig
    from abwcf_spark.engine.crawler import SparkCrawler

    spark = SparkSession.builder.appName("abwcf-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    cfg = CrawlConfig(
        round_seconds=args.round_seconds,
        max_rounds=args.max_rounds,
        max_crawl_depth=args.max_crawl_depth,
        parse_html=args.parse_html,
    )
    crawler = SparkCrawler(
        spark,
        corpus=spark.read.parquet(args.corpus),
        robots_corpus=spark.read.parquet(args.robots),
        cfg=cfg,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_interval=args.checkpoint_interval,
        use_bloom=not args.no_bloom,
        bloom_shards=args.bloom_shards,
        frontier_buckets=args.frontier_buckets,
        n_salts=args.n_salts,
        validate_payloads=args.validate_payloads,
    )
    seeds = spark.read.parquet(args.seeds) if args.seeds else None
    t0 = time.time()
    res = crawler.run(seeds=seeds, resume=args.resume)
    wall = time.time() - t0
    print(
        json.dumps(
            dict(
                rounds=res.rounds,
                fetched=res.fetch_seq,
                frontier_rows=res.frontier.count(),
                payload_failures=res.payload_failures,
                wall_sec=round(wall, 2),
                urls_per_sec=round(res.fetch_seq / wall, 1) if wall else None,
            )
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
