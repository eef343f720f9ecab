"""Kill/resume: a crawl stopped after round k and resumed from its
checkpoint must produce a byte-identical final state to an uninterrupted
run (north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; reference recovery semantics: PageRestorer.scala:26-55,
SlickPageRepository.scala:58-61 — SURVEY.md §3.3)."""

import pandas as pd

from abwcf_spark.config import CrawlConfig
from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.testing.compare import ORACLE_COLS, assert_crawl_equal
from abwcf_spark.testing.corpus import T1_MICRO, gen_corpus
from abwcf_spark.testing.oracle import crawl_oracle
from abwcf_spark.testing.spark_fixtures import corpus_to_spark

CFG = CrawlConfig()


def test_kill_resume_byte_identical(spark, tmp_path):
    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], CFG)

    # run A: uninterrupted
    a = SparkCrawler(spark, sdfs["corpus"], sdfs["robots"], CFG)
    res_a = a.run(seeds=sdfs["seeds"])
    assert_crawl_equal(res_a, oracle)

    # run B: checkpoint every 2 rounds, killed after round 4
    ckpt = str(tmp_path / "ckpt")
    b1 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    b1.run(seeds=sdfs["seeds"], stop_after_round=3)
    assert b1.latest_snapshot() is not None
    killed_at = b1.rnd
    assert 0 < killed_at < res_a.rounds, "must stop mid-crawl for a real test"
    del b1  # "kill"

    # run B resumed: a FRESH crawler restores round/fetch_seq/bloom/tables
    b2 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    res_b = b2.run(resume=True)
    assert_crawl_equal(res_b, oracle)

    # byte-identical final frontier between interrupted and uninterrupted
    fa = res_a.frontier_pdf()[ORACLE_COLS].reset_index(drop=True)
    fb = res_b.frontier_pdf()[ORACLE_COLS].reset_index(drop=True)
    pd.testing.assert_frame_equal(fa, fb)
    assert res_a.fetch_seq == res_b.fetch_seq
    assert res_a.rounds == res_b.rounds


def test_resume_rebuilds_bloom_when_snapshot_has_none(spark, tmp_path):
    """Coherence repair: a snapshot written with use_bloom=False resumed by
    a bloom-enabled crawler must NOT start with an empty bloom (negative
    probes would 'prove' frontier URLs new → duplicate rows).  The bloom is
    rebuilt from a frontier url_hash scan and the resumed crawl stays
    byte-identical to the oracle."""
    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], CFG)

    ckpt = str(tmp_path / "ckpt-nb")
    a = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG, use_bloom=False,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    a.run(seeds=sdfs["seeds"], stop_after_round=3)
    frontier_rows = a.frontier.count()
    assert frontier_rows > 0

    b = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG, use_bloom=True,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    res = b.run(resume=True)
    # the rebuilt bloom saw every pre-kill frontier row
    assert b.bloom is not None and b.bloom.n_added >= frontier_rows
    assert_crawl_equal(res, oracle)


def test_resume_without_snapshot_raises(spark, tmp_path):
    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    c = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG,
        checkpoint_dir=str(tmp_path / "empty"),
    )
    try:
        c.run(resume=True)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_metrics_table_survives_resume_and_matches_oracle(spark, tmp_path):
    """O20 durable metrics: the per-(round, stage) table written at commit
    time must (a) be identical between an uninterrupted run and a
    killed+resumed run, and (b) match the pure-python oracle's per-round
    counts mapped through the same stage shaping."""
    import pandas as pd

    from abwcf_spark.engine.crawler import metrics_stage_rows

    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], CFG)
    cols = ["round", "stage", "passed", "rejected"]

    a = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG,
        checkpoint_dir=str(tmp_path / "a"), checkpoint_interval=2,
    )
    a.run(seeds=sdfs["seeds"])
    ta = (
        a.metrics_table().toPandas()[cols]
        .sort_values(["round", "stage"]).reset_index(drop=True)
    )

    ckpt_b = str(tmp_path / "b")
    b1 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG,
        checkpoint_dir=ckpt_b, checkpoint_interval=2,
    )
    b1.run(seeds=sdfs["seeds"], stop_after_round=3)
    del b1
    b2 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CFG,
        checkpoint_dir=ckpt_b, checkpoint_interval=2,
    )
    b2.run(resume=True)
    tb = (
        b2.metrics_table().toPandas()[cols]
        .sort_values(["round", "stage"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(ta, tb)

    # the oracle comparison excludes engine-cache stages: the pure-python
    # simulator has no bloom, and cache_bloom_probe's rejected side counts
    # false positives the oracle cannot model (the o20_metrics_table gate
    # entry runs use_bloom=False for the same reason — queries.py)
    ta_sem = (
        ta[ta["stage"] != "cache_bloom_probe"]
        .sort_values(["round", "stage"]).reset_index(drop=True)
    )
    exp = (
        pd.DataFrame([r for m in oracle.metrics for r in metrics_stage_rows(m)])
        [cols].sort_values(["round", "stage"]).reset_index(drop=True)
        .astype(ta.dtypes.to_dict())
    )
    pd.testing.assert_frame_equal(ta_sem, exp)
