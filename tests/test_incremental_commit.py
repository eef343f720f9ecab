"""Merge-on-read frontier commits: per-round write IO must scale with the
round's DELTA ROWS (inserts + status updates), never with frontier size —
the Iceberg-MoR analogue of the reference's row-level
`UPDATE pages SET status = ? WHERE url = ?` (SlickPageRepository.scala:39,
batched via Batcher.scala:37-61).  Each round appends per-(bucket, round)
fr_ins / fr_upd delta files; reads reconcile latest-wins on url; chains
compact into a fresh base past a threshold."""

import inspect
import os

from abwcf_spark.config import CrawlConfig
from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.testing.compare import assert_crawl_equal
from abwcf_spark.testing.corpus import CorpusSpec, gen_corpus
from abwcf_spark.testing.oracle import crawl_oracle
from abwcf_spark.testing.spark_fixtures import corpus_to_spark


def _dir_bytes(d):
    total = 0
    for root, _, files in os.walk(d):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith("_")
        )
    return total


def _round_dirs(ckpt, sub):
    return sorted(
        os.path.join(ckpt, e, sub)
        for e in os.listdir(ckpt)
        if e.startswith("round=") and os.path.isdir(os.path.join(ckpt, e, sub))
    )


def test_update_heavy_round_writes_o_delta_not_o_frontier(spark, tmp_path):
    """The VERDICT-r2 scale killer: an update-heavy round whose delta rows
    exceed the bucket count (so copy-on-write would touch EVERY bucket and
    degenerate to a full-table rewrite) must still write only O(delta) rows.
    One host, every URL discovered in round 1 (seed links to all), then
    400 fetches/round against a ~3000-row frontier spread over 16 buckets
    (large enough that row bytes dominate parquet per-file overhead)."""
    n = 3000
    spec = CorpusSpec(
        n_hosts=1, urls_per_host=n, seed_hosts=1, with_images=False,
        redirect_rate=0, error_rate=0, nofollow_rate=0, dirty_link_rate=0,
        fanout=n, crawl_delays={0: 0.0},
    )
    cfg = CrawlConfig(max_fetches_per_host_per_round=400)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)
    ckpt = str(tmp_path / "ckpt")
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        checkpoint_dir=ckpt, checkpoint_interval=5,
        frontier_buckets=16,
    )
    res = crawler.run(seeds=sdfs["seeds"])
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)
    assert_crawl_equal(res, oracle)

    frontier_rows = res.frontier.count()
    assert frontier_rows >= 2500
    frontier_bytes = sum(
        _dir_bytes(p)
        for p in list(crawler.chain_base) + crawler.chain_ins + crawler.chain_upd
    )

    # pick an update-heavy mid-crawl round: ~0 inserts, 40 updates > 16
    # buckets (skip round 0/1 where the bulk insert lands, and tail rounds
    # that fetch the remainder)
    upd_dirs = [
        p for p in _round_dirs(ckpt, "fr_upd")
        if any(e.startswith("bucket=") for e in os.listdir(p))
    ]
    assert len(upd_dirs) >= 4
    by_rows = {p: spark.read.parquet(p).count() for p in upd_dirs[2:]}
    probe = next(p for p, n in by_rows.items() if n == 400)
    rdir = os.path.dirname(probe)
    upd_rows = by_rows[probe]
    ins_dir = os.path.join(rdir, "fr_ins")
    ins_rows = (
        spark.read.parquet(ins_dir).count() if os.path.isdir(ins_dir) and any(
            e.startswith("bucket=") for e in os.listdir(ins_dir)
        ) else 0
    )
    assert upd_rows == 400, f"expected a 400-fetch round, got {upd_rows}"
    assert upd_rows > crawler.n_buckets, "delta must exceed bucket count"
    # the write is O(delta rows): this round's frontier files hold exactly
    # the delta rows, and their bytes are a small fraction of the table
    round_bytes = _dir_bytes(probe) + (
        _dir_bytes(ins_dir) if os.path.isdir(ins_dir) else 0
    )
    per_row = frontier_bytes / max(frontier_rows, 1)
    assert round_bytes < frontier_bytes / 2, (
        f"round wrote {round_bytes}B vs table {frontier_bytes}B — O(frontier)"
    )
    assert round_bytes < 400 * per_row * 30, (
        "per-delta-row write cost is way above the table's per-row cost "
        "(full-table rewrite smell)"
    )
    assert ins_rows <= 2


def test_tail_rounds_write_small_deltas(spark, tmp_path):
    """Late rounds fetch 1 URL (budget 1/host/round) against a ~40-row
    frontier: the per-round frontier write must be a 1-row update delta —
    not a rewrite of any full bucket set."""
    spec = CorpusSpec(n_hosts=1, urls_per_host=40, seed_hosts=1,
                      with_images=False, redirect_rate=0, error_rate=0)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)
    ckpt = str(tmp_path / "ckpt")
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=ckpt, checkpoint_interval=5,
        frontier_buckets=64,
    )
    res = crawler.run(seeds=sdfs["seeds"])
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"])
    assert_crawl_equal(res, oracle)

    frontier_rows = res.frontier.count()
    assert frontier_rows >= 30
    for upd_dir in _round_dirs(ckpt, "fr_upd")[-3:]:
        delta_rows = spark.read.parquet(upd_dir).count()
        assert delta_rows <= 2, (
            f"{upd_dir}: {delta_rows} update rows for a 1-fetch round"
        )
        rdir = os.path.dirname(upd_dir)
        ins_dir = os.path.join(rdir, "fr_ins")
        if os.path.isdir(ins_dir):
            buckets = [e for e in os.listdir(ins_dir) if e.startswith("bucket=")]
            assert len(buckets) <= 4, f"{ins_dir}: {len(buckets)} insert buckets"
    # the chain really spans multiple historic rounds (no full rewrites)
    ref_rounds = {
        os.path.basename(os.path.dirname(p))
        for p in crawler.chain_ins + crawler.chain_upd
        + list(crawler.chain_base)
    }
    assert len(ref_rounds) >= 3, (
        f"chain references too few rounds — table rewritten per round: {ref_rounds}"
    )


def test_compaction_preserves_exactness_and_resume(spark, tmp_path):
    """Aggressive compaction (every 2 delta files) must not change any
    result, and a resume from a post-compaction checkpoint stays
    byte-identical."""
    import pandas as pd

    from abwcf_spark.testing.compare import ORACLE_COLS
    from abwcf_spark.testing.corpus import T2_MULTI

    cfg = CrawlConfig(round_seconds=4.0)
    tables = gen_corpus(T2_MULTI)
    sdfs = corpus_to_spark(spark, tables)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)

    ckpt = str(tmp_path / "ckpt")
    a = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    a.compact_after = 2
    a.run(seeds=sdfs["seeds"], stop_after_round=4)
    assert a.chain_base, "compaction never triggered"
    assert len(a.chain_ins) <= 3 and len(a.chain_upd) <= 3
    del a

    b = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    b.compact_after = 2
    res = b.run(resume=True)
    assert_crawl_equal(res, oracle)

    # and equal to an uninterrupted, never-compacting run
    c = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
    )
    res_c = c.run(seeds=sdfs["seeds"])
    fa = res.frontier_pdf()[ORACLE_COLS].reset_index(drop=True)
    fb = res_c.frontier_pdf()[ORACLE_COLS].reset_index(drop=True)
    pd.testing.assert_frame_equal(fa, fb)


def test_step_never_collects_row_data():
    """The round loop must keep row data off the driver: no toPandas/collect
    anywhere in _step — all driver-visible counts ride Observations on jobs
    that run anyway (MoR removed even the touched-bucket id collect)."""
    src = inspect.getsource(SparkCrawler._step)
    assert "toPandas" not in src
    assert ".collect()" not in src, [
        ln.strip() for ln in src.splitlines() if ".collect()" in ln
    ]


def test_adaptive_bucket_count_rule():
    """Documented sizing rule: ~2M rows per bucket, power of two, clamped
    [32, 65536]; 10^10-row design point → 8192 buckets."""
    from abwcf_spark.engine.crawler import adaptive_bucket_count

    assert adaptive_bucket_count(1_000) == 32
    assert adaptive_bucket_count(60_000_000) == 32
    assert adaptive_bucket_count(100_000_000) == 64
    assert adaptive_bucket_count(2_000_000_000) == 1024
    assert adaptive_bucket_count(10_000_000_000) == 8192
    assert adaptive_bucket_count(1_000_000_000_000) == 65536


def test_upd_overflow_triggers_compaction(spark, tmp_path):
    """VERDICT-r3 #2: once ``upd_rows`` outgrows ``seen_broadcast_limit``,
    the read-side reconcile would degrade to an O(frontier) shuffle every
    round — the overflow itself must trigger compaction (chain reset), and
    results must stay exact.  compact_after is set high so ONLY the
    overflow trigger can fire."""
    n = 400
    spec = CorpusSpec(
        n_hosts=1, urls_per_host=n, seed_hosts=1, with_images=False,
        redirect_rate=0, error_rate=0, nofollow_rate=0, dirty_link_rate=0,
        cross_host_rate=0, fanout=n, crawl_delays={0: 0.0},
    )
    cfg = CrawlConfig(max_fetches_per_host_per_round=60)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        frontier_buckets=16,
        seen_broadcast_limit=100,
    )
    crawler.compact_after = 99  # chain-length trigger disabled

    post_compact_upd: list[int] = []
    orig = crawler._maybe_compact

    def spy(d):
        orig(d)
        post_compact_upd.append(crawler.upd_rows)

    crawler._maybe_compact = spy
    res = crawler.run(seeds=sdfs["seeds"])
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)
    assert_crawl_equal(res, oracle)
    assert crawler.chain_base, "overflow never triggered a compaction"
    # the invariant the trigger exists for: after every commit the update
    # chain fits the reconcile broadcast again
    assert post_compact_upd and max(post_compact_upd) <= 100, post_compact_upd


def test_selective_compaction_rewrites_subset(spark, tmp_path):
    """VERDICT-r3 #3: with updates skewed into a few buckets (via a
    user prioritizer that fetches bucket-0..3 urls first), a compaction
    pass must MAJOR-rewrite only those hot buckets (a strict subset) with
    write IO proportional to them, minor-consolidating the rest — and the
    result must equal a never-compacting run; resume from a post-selective
    checkpoint stays exact."""
    import pandas as pd
    from pyspark.sql import functions as F

    from abwcf_spark.testing.compare import ORACLE_COLS

    n = 2000
    spec = CorpusSpec(
        n_hosts=1, urls_per_host=n, seed_hosts=1, with_images=False,
        redirect_rate=0, error_rate=0, nofollow_rate=0, dirty_link_rate=0,
        cross_host_rate=0, fanout=n, crawl_delays={0: 0.0},
    )
    cfg = CrawlConfig(max_fetches_per_host_per_round=110, max_rounds=9)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)
    hot_first = (
        F.when(F.pmod(F.xxhash64(F.col("url")), F.lit(16)) < 4, F.lit(1_000_000))
        .otherwise(F.lit(0))
    )

    def mk(ckpt=None):
        c = SparkCrawler(
            spark, sdfs["corpus"], sdfs["robots"], cfg,
            checkpoint_dir=ckpt, checkpoint_interval=2,
            frontier_buckets=16,
            prioritizer=hot_first,
        )
        return c

    ckpt = str(tmp_path / "ckpt")
    a = mk(ckpt)
    a.compact_after = 2
    passes: list[dict] = []
    orig = a._maybe_compact

    def spy(d):
        before = set(a.chain_base)
        orig(d)
        new_bases = [p for p in a.chain_base if p not in before]
        if new_bases:
            passes.append(dict(
                bases=len(a.chain_base),
                new_base_buckets=sorted(
                    b for p in new_bases for b in SparkCrawler._bucket_dirs(p)
                ),
                new_base_rows=a._leaf_rows(new_bases),
            ))

    a._maybe_compact = spy
    a.run(seeds=sdfs["seeds"])

    # at least one pass rewrote a strict subset of the 16 buckets, and its
    # write IO was proportional to those buckets (~n/16 base rows each plus
    # their deltas), nowhere near the ~2000-row full-table rewrite
    subset = [
        p for p in passes
        if p["new_base_buckets"] and len(p["new_base_buckets"]) < 16
    ]
    assert subset, f"no selective pass observed: {passes}"
    for p in subset:
        assert p["bases"] >= 2  # partial base generation appended
        per_bucket = n / 16
        budget_rows = len(p["new_base_buckets"]) * per_bucket * 2.5
        assert p["new_base_rows"] <= budget_rows, (p, budget_rows)

    # exactness vs a never-compacting run
    b = mk()
    res_b = b.run(seeds=sdfs["seeds"])
    fa = a.frontier.drop("partition_id").orderBy("url").toPandas()
    fb = res_b.frontier_pdf()
    pd.testing.assert_frame_equal(
        fa[ORACLE_COLS].reset_index(drop=True),
        fb[ORACLE_COLS].reset_index(drop=True),
    )

    # resume from the (post-selective-compaction) checkpoint chain
    c = mk(ckpt)
    c.compact_after = 2
    res_c = c.run(resume=True)
    fc = res_c.frontier_pdf()
    pd.testing.assert_frame_equal(
        fc[ORACLE_COLS].reset_index(drop=True),
        fb[ORACLE_COLS].reset_index(drop=True),
    )
