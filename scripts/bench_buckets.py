"""One-off MoR bucket-count scaling probe (VERDICT-r3 #7 / BASELINE.md).

Round 3 measured that a FORCED 1024-bucket frontier loses to the adaptive
bucket count on a 1M-row table (509 s vs 333 s full crawl) because
per-(bucket, round) delta files go tiny and create/list overhead dominates
at local-FS scale.  The adaptive rule (~rows/2M, clamped [32, 65536]) was
asserted — not measured — to flip at large tables.  This probe measures
the DIRECTION of that crossover without a 16M-URL crawl: it drives the MoR
store itself (base write → 9 update-delta rounds → compaction pass →
reconciled politeness-shaped scan) on synthetic frontier tables at two
sizes and two bucket counts, and reports the relative penalty of 1024
buckets shrinking as the table grows toward the design point (10^10 rows,
where each of 8192 buckets is hundreds of MB and over-bucketing overhead
vanishes into file-size economics).

Usage:  python scripts/bench_buckets.py [rows ...]   (default: 1e6, 16e6)
Prints one JSON line per (rows, buckets) config.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from abwcf_spark.config import STATUS_DISCOVERED, STATUS_PROCESSED
from abwcf_spark.engine.crawler import (
    FRONTIER_SCHEMA,
    SparkCrawler,
    adaptive_bucket_count,
)
from abwcf_spark.session import get_spark


def synth_frontier(spark, rows: int, status=STATUS_DISCOVERED):
    """Deterministic synthetic frontier rows at any scale — generated
    executor-side from spark.range, no driver data."""
    return (
        spark.range(0, rows, 1, 64)
        .select(
            F.concat(
                F.lit("https://h"), (F.col("id") % 4096).cast("string"),
                F.lit(".example/p/"), F.col("id").cast("string"),
            ).alias("url")
        )
        .select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.regexp_extract("url", r"https://(h\d+\.example)", 1).alias("host"),
            F.lit(status).alias("status"),
            F.lit(1).cast("int").alias("crawl_depth"),
            F.xxhash64("url").alias("crawl_priority"),
            F.lit(0).cast("int").alias("discovered_round"),
            F.lit(None).cast("int").alias("fetched_round"),
            F.lit(None).cast("long").alias("fetch_order"),
            F.spark_partition_id().alias("partition_id"),
        )
    )


def run_config(spark, rows: int, buckets: int | None, delta_rows: int) -> dict:
    work = tempfile.mkdtemp(prefix="abwcf-bucketprobe-")
    empty = spark.createDataFrame([], FRONTIER_SCHEMA)
    c = SparkCrawler(
        spark, empty, spark.createDataFrame([], "scheme_and_authority string"),
        use_bloom=False, checkpoint_dir=work,
        frontier_buckets=buckets,
    )
    if buckets is None:
        c.n_buckets = adaptive_bucket_count(rows)
    c.frontier_rows = rows
    # compaction pass should exercise the MAJOR path at both sizes (the
    # deltas below are ~11% of the base; the default 0.25 would go minor)
    c.major_frac = 0.05
    out = dict(rows=rows, buckets=c.n_buckets,
               forced=bool(buckets), delta_rows=delta_rows)

    df = synth_frontier(spark, rows)
    base = os.path.join(work, "round=000000", "fr_base")
    t0 = time.time()
    c._write_delta(df, base, 64)
    out["t_base_write"] = round(time.time() - t0, 2)
    c.chain_base = [base]

    # 9 update-delta rounds (past compact_after=8): each flips a disjoint
    # slice of urls to Processed — the production round shape
    t0 = time.time()
    for r in range(1, 10):
        upd = synth_frontier(spark, rows).where(
            (F.col("url_hash") % 97) == r
        ).limit(delta_rows).select(
            "url", "url_hash", "host",
            F.lit(STATUS_PROCESSED).alias("status"),
            "crawl_depth", "crawl_priority", "discovered_round",
            F.lit(r).cast("int").alias("fetched_round"),
            (F.monotonically_increasing_id()).alias("fetch_order"),
            "partition_id",
        )
        d = os.path.join(work, f"round={r:06d}", "fr_upd")
        c._write_delta(upd, d, 64)
        c.chain_upd.append(d)
    out["t_delta_writes"] = round(time.time() - t0, 2)
    c.upd_rows = c._leaf_rows(c.chain_upd)

    # reconciled politeness-shaped scan (the per-round read the store serves)
    c._reload_frontier()
    t0 = time.time()
    n_disc = c._discovered_view().count()
    out["t_reconcile_scan"] = round(time.time() - t0, 2)
    out["discovered"] = n_disc

    # compaction pass
    t0 = time.time()
    c._maybe_compact(os.path.join(work, "round=000009"))
    out["t_compact"] = round(time.time() - t0, 2)

    n_files = sum(len(files) for _, _, files in os.walk(work))
    out["files"] = n_files
    out["t_total"] = round(
        out["t_base_write"] + out["t_delta_writes"]
        + out["t_reconcile_scan"] + out["t_compact"], 2
    )
    c.close()
    shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 16_000_000]
    spark = get_spark(app_name="abwcf-bucket-probe", cpus=16)
    results = []
    try:
        for rows in sizes:
            delta = max(rows // 80, 10_000)
            for buckets in (None, 1024):
                r = run_config(spark, rows, buckets, delta)
                results.append(r)
                print(json.dumps(r), flush=True)
    finally:
        spark.stop()
    # relative penalty of forced 1024 vs adaptive per size
    by_rows: dict[int, dict] = {}
    for r in results:
        by_rows.setdefault(r["rows"], {})["forced" if r["forced"] else "adaptive"] = r
    for rows, pair in by_rows.items():
        if len(pair) == 2:
            pen = pair["forced"]["t_total"] / pair["adaptive"]["t_total"]
            print(json.dumps(dict(rows=rows, penalty_1024_vs_adaptive=round(pen, 3))),
                  flush=True)


if __name__ == "__main__":
    main()
