"""Supplementary measurement harness for the optimization rounds.

bench.py is FROZEN (the driver times the round-start copy); everything
extra lives here:

- ``queries`` mode: per-query wall via the noop sink (guide §1.4 — times
  the computation, not the sink), best-of-two, with job descriptions set
  so the UI is readable (§1.5).
- ``crawl`` mode: one crawl of the (env-configurable) bench corpus at N
  cores, printing the per-round lap breakdown the engine already records
  (t_cand / t_robots / t_insert / t_select / t_commit) — the decomposition
  evidence for the round-loop optimizations.
- ``validate`` mode: the datapath payload-validation phase in isolation
  (same shape as bench.py's _datapath but standalone and lap-labeled).

Usage:
    python bench_extra.py queries  <cpus> <sf_dir>
    python bench_extra.py crawl    <cpus> [hosts urls fanout]
    python bench_extra.py validate <cpus> [rows]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_queries_noop(cpus: int, sf_dir: str) -> dict:
    from abwcf_spark.queries import QUERIES
    from abwcf_spark.session import get_spark

    import bench

    spark = get_spark(app_name="bench-extra-queries", cpus=cpus)
    out = {}
    try:
        for name in bench.HEADLINE_QUERIES:
            fn = QUERIES[name]
            spark.sparkContext.setJobDescription(f"noop:{name}")
            best = None
            for _ in range(3):  # 1 warm + best-of-two
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                if best is None:
                    best = float("inf")  # discard the warm lap
                else:
                    best = min(best, dt)
            out[name] = round(best, 3)
            spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    return out


def run_crawl_laps_detailed(cpus: int) -> dict:
    """Like bench.run_crawl but returns per-round laps (needs the crawler
    object, so this re-implements the thin wrapper)."""
    from pyspark.sql import functions as F

    import bench
    from abwcf_spark.engine.crawler import SparkCrawler
    from abwcf_spark.session import get_spark

    os.environ.setdefault("ABWCF_BENCH_HOSTS", "192")
    os.environ.setdefault("ABWCF_BENCH_URLS", "750")
    paths = bench.materialize_corpus()
    spark = get_spark(
        app_name=f"bench-extra-crawl-{cpus}", cpus=cpus,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024)},
    )
    try:
        corpus = spark.read.parquet(paths["corpus"])
        robots = spark.read.parquet(paths["robots"])
        seeds = spark.read.parquet(paths["seeds"])
        crawler = SparkCrawler(
            spark, corpus, robots, bench.BENCH_CFG,
            use_bloom=True,
            seen_filter="bloom", bloom_capacity=1 << 22, n_salts=0,
            validate_payloads=True,
        )
        _warm = F.pandas_udf(lambda x: x, "long")
        spark.range(0, 100_000, 1, cpus * 4).select(
            F.count(_warm(F.col("id")))
        ).collect()
        t0 = time.time()
        res = crawler.run(seeds=seeds)
        wall = time.time() - t0
        laps = [
            {k: v for k, v in m.items() if k.startswith("t_") or k == "round"}
            for m in res.metrics
        ]
        return dict(
            cpus=cpus, wall_sec=round(wall, 2), rounds=res.rounds,
            fetched=res.fetch_seq,
            urls_per_sec=round(res.fetch_seq / wall, 1),
            payload_failures=res.payload_failures,
            laps=laps,
        )
    finally:
        spark.stop()


def run_validate(cpus: int, rows: int) -> dict:
    import bench

    os.environ["ABWCF_BENCH_DATAPATH_ROWS"] = str(rows)
    paths = bench.materialize_corpus()
    return bench.run_datapath(cpus, paths)


if __name__ == "__main__":
    mode = sys.argv[1]
    cpus = int(sys.argv[2])
    if mode == "queries":
        print(json.dumps(run_queries_noop(cpus, sys.argv[3])))
    elif mode == "crawl":
        if len(sys.argv) > 3:
            os.environ["ABWCF_BENCH_HOSTS"] = sys.argv[3]
        if len(sys.argv) > 4:
            os.environ["ABWCF_BENCH_URLS"] = sys.argv[4]
        if len(sys.argv) > 5:
            os.environ["ABWCF_BENCH_FANOUT"] = sys.argv[5]
        print(json.dumps(run_crawl_laps_detailed(cpus)))
    elif mode == "validate":
        rows = int(sys.argv[3]) if len(sys.argv) > 3 else 192000
        print(json.dumps(run_validate(cpus, rows)))
    else:
        raise SystemExit(f"unknown mode {mode}")
