"""Frontier purge / recrawl path (the capability the cuckoo seen-filter's
DELETE exists for): purged URLs leave the frontier AND the seen set, are
fully re-discoverable through the real candidate path, and the eviction/
deletion counters land in the durable metrics table."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from abwcf_spark.config import CrawlConfig
from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.testing.corpus import T1_MICRO, gen_corpus
from abwcf_spark.testing.spark_fixtures import corpus_to_spark


def test_purge_requires_cuckoo(spark, tmp_path):
    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    c = SparkCrawler(spark, sdfs["corpus"], sdfs["robots"],
                     CrawlConfig())  # default = bloom
    with pytest.raises(ValueError, match="cuckoo"):
        c.purge_urls(["https://h0.example/p/0"])


def test_purge_then_rediscover(spark, tmp_path):
    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    ckpt = str(tmp_path / "ckpt")
    c = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=ckpt, checkpoint_interval=2, seen_filter="cuckoo",
    )
    res = c.run(seeds=sdfs["seeds"])
    pdf = res.frontier_pdf()
    target = sorted(pdf[pdf.status == "Processed"].url)[3]
    first_round = int(pdf.set_index("url").loc[target, "fetched_round"])
    n_rows = len(pdf)

    # --- purge: frontier row gone, probe flips to provably-unseen
    assert c.purge_urls([target]) == 1
    probe = c.bloom.make_probe_udf()
    left = (
        spark.createDataFrame([(u,) for u in pdf.url], "url string")
        .select("url", probe(F.xxhash64("url")).alias("seen"))
        .toPandas().set_index("url")["seen"]
    )
    assert not left[target], "purged url still probes seen"
    assert left.drop(target).all(), "purge touched other fingerprints"
    pdf2 = c.frontier.toPandas()
    assert target not in set(pdf2.url)
    assert len(pdf2) == n_rows - 1

    # --- re-discovery through the REAL candidate path: a later seed/link
    # to the purged url passes the seen filter and is fetched again
    res2 = c.run(seeds=spark.createDataFrame(
        [(target, 0)], "url string, seq long"))
    pdf3 = res2.frontier_pdf().set_index("url")
    assert target in pdf3.index
    assert pdf3.loc[target, "status"] == "Processed"
    assert int(pdf3.loc[target, "fetched_round"]) > first_round
    assert len(pdf3) == n_rows  # everything else intact

    # --- durable metrics: purge + deletion counters recorded
    mt = c.metrics_table().toPandas()
    purge_rows = mt[mt.stage == "seen_purge"]
    del_rows = mt[mt.stage == "cache_seen_deletes"]
    assert len(purge_rows) == 1 and int(purge_rows.passed.iloc[0]) == 1
    assert len(del_rows) == 1 and int(del_rows.passed.iloc[0]) == 1
    c.close()


def test_purge_crash_before_checkpoint_rolls_back(spark, tmp_path):
    """Crash-safety of the purge: shard files and the purge base are NEW
    versioned paths, invisible until the manifest references them — a
    purge that dies before its checkpoint must resume as if it never ran
    (frontier intact, probe still positive)."""
    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    ckpt = str(tmp_path / "ckpt")
    c = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=ckpt, checkpoint_interval=2, seen_filter="cuckoo",
    )
    res = c.run(seeds=sdfs["seeds"])
    pdf = res.frontier_pdf()
    target = sorted(pdf.url)[2]
    n_rows = len(pdf)

    # simulate the kill: the purge completes everything EXCEPT the
    # manifest write
    orig = c._checkpoint
    c._checkpoint = lambda: (_ for _ in ()).throw(KeyboardInterrupt())
    with pytest.raises(KeyboardInterrupt):
        c.purge_urls([target])
    c._checkpoint = orig
    c.close()

    # a FRESH process resumes from the last manifest: pre-purge state
    c2 = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
        checkpoint_dir=ckpt, checkpoint_interval=2, seen_filter="cuckoo",
    )
    res2 = c2.run(resume=True)
    pdf2 = res2.frontier_pdf()
    assert len(pdf2) == n_rows and target in set(pdf2.url)
    probe = c2.bloom.make_probe_udf()
    seen = (
        spark.createDataFrame([(target,)], "url string")
        .select(probe(F.xxhash64("url")).alias("s")).collect()[0].s
    )
    assert seen, "rolled-back purge must leave the url provably seen"
    c2.close()
