"""Structured Streaming seed intake: files of seed URLs → micro-batches →
frontier inserts, idempotent per URL (re-delivery safe)."""

import os

import pandas as pd

from abwcf_spark.config import STATUS_DISCOVERED, CrawlConfig
from abwcf_spark.streaming.ingest import seed_intake_batch, start_seed_stream


def _write_seed_file(spark, d, i, urls):
    pdf = pd.DataFrame({"url": urls, "seq": range(i * 100, i * 100 + len(urls))})
    spark.createDataFrame(pdf.astype({"seq": "int64"})).coalesce(1).write.mode(
        "append"
    ).parquet(d)


def test_stream_ingests_and_dedups(spark, tmp_path):
    seed_dir = str(tmp_path / "seeds")
    frontier_dir = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(seed_dir, exist_ok=True)

    _write_seed_file(
        spark, seed_dir, 0,
        ["https://h0.example/p/0", "HTTPS://H0.EXAMPLE/p/1#frag", "mailto:x@y"],
    )
    q = start_seed_stream(spark, seed_dir, frontier_dir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(frontier_dir).toPandas().sort_values("url")
    # mailto dropped by the normalizer; dirty URL canonicalized
    assert list(got["url"]) == [
        "https://h0.example/p/0",
        "https://h0.example/p/1",
    ]
    assert (got["status"] == STATUS_DISCOVERED).all()

    # second batch: one repeat + one new → only the new row appended
    _write_seed_file(
        spark, seed_dir, 1,
        ["https://h0.example/p/0", "https://h0.example/p/2"],
    )
    q2 = start_seed_stream(spark, seed_dir, frontier_dir, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(frontier_dir).toPandas().sort_values("url")
    assert list(got2["url"]) == [
        "https://h0.example/p/0",
        "https://h0.example/p/1",
        "https://h0.example/p/2",
    ]


def test_intake_batch_idempotent(spark, tmp_path):
    frontier_dir = str(tmp_path / "frontier")
    batch = spark.createDataFrame(
        pd.DataFrame({"url": ["https://h0.example/a"], "seq": [0]}).astype(
            {"seq": "int64"}
        )
    )
    cfg = CrawlConfig()
    seed_intake_batch(spark, batch, frontier_dir, cfg)
    seed_intake_batch(spark, batch, frontier_dir, cfg)  # re-delivery
    got = spark.read.parquet(frontier_dir).toPandas()
    assert len(got) == 1


def test_streaming_rounds_match_oracle(spark, tmp_path):
    """The Structured-Streaming round driver (one crawl round per
    micro-batch trigger) must produce the exact same crawl as the batch
    loop — crawl order, URL-seen set, every frontier column."""
    from abwcf_spark.config import CrawlConfig
    from abwcf_spark.engine.crawler import SparkCrawler
    from abwcf_spark.streaming.rounds import stream_rounds
    from abwcf_spark.testing.compare import assert_crawl_equal
    from abwcf_spark.testing.corpus import T1_MICRO, gen_corpus
    from abwcf_spark.testing.oracle import crawl_oracle
    from abwcf_spark.testing.spark_fixtures import corpus_to_spark

    tables = gen_corpus(T1_MICRO)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"])
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=str(tmp_path / "ck"), checkpoint_interval=3,
    )
    res = stream_rounds(
        crawler, seeds=sdfs["seeds"],
        checkpoint_dir=str(tmp_path / "stream-ck"),
    )
    assert_crawl_equal(res, oracle)


def test_streaming_rounds_restart_resumes_from_manifest(spark, tmp_path):
    """A restarted round-driver query must RESUME the crawl from the
    crawler's own manifest (not re-seed round 0), and finish with the exact
    oracle state — the replayed-trigger restart semantics."""
    from abwcf_spark.engine.crawler import SparkCrawler
    from abwcf_spark.streaming.rounds import stream_rounds
    from abwcf_spark.testing.compare import assert_crawl_equal
    from abwcf_spark.testing.corpus import T1_MICRO, gen_corpus
    from abwcf_spark.testing.oracle import crawl_oracle
    from abwcf_spark.testing.spark_fixtures import corpus_to_spark

    tables = gen_corpus(T1_MICRO)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"])
    sdfs = corpus_to_spark(spark, tables)
    ck = str(tmp_path / "crawler-ck")

    c1 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=ck, checkpoint_interval=1,
    )
    stream_rounds(
        c1, seeds=sdfs["seeds"],
        checkpoint_dir=str(tmp_path / "s1"), max_rounds=3,
    )
    stopped_at = c1.rnd
    assert 0 < stopped_at < oracle.rounds, "must stop mid-crawl"

    # "restart": fresh crawler + same crawler checkpoint; seeds passed but
    # the manifest must win (no re-seeding)
    c2 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=ck, checkpoint_interval=1,
    )
    res = stream_rounds(
        c2, seeds=sdfs["seeds"], checkpoint_dir=str(tmp_path / "s2"),
    )
    assert c2.rnd == oracle.rounds
    assert_crawl_equal(res, oracle)
