"""Cuckoo URL-seen filter: kernel units (no Spark), sharded-store parity,
e2e crawl equality, and kill/resume with the cuckoo selected.

The north rule names a "bloom/cuckoo-filter URL-seen set"; the cuckoo
(kernels/cuckoo.py, Fan et al. CoNEXT'14) is the deletable half.  Contract
under test = the bloom's: a negative probe PROVES the key was never
inserted (the engine skips the exact anti-join on it), plus deletion.
"""

import numpy as np
import pytest

from abwcf_spark.config import CrawlConfig
from abwcf_spark.kernels.cuckoo import CuckooFilter
from abwcf_spark.kernels.hashing import xxhash64_str
from abwcf_spark.testing.compare import assert_crawl_equal
from abwcf_spark.testing.corpus import T1_MICRO, gen_corpus
from abwcf_spark.testing.oracle import crawl_oracle
from abwcf_spark.testing.spark_fixtures import corpus_to_spark


def keys(n, prefix="u"):
    return np.array(
        [xxhash64_str(f"https://h.example/{prefix}/{i}") for i in range(n)],
        dtype=np.int64,
    )


# ---------------------------------------------------------------- kernel


def test_no_false_negatives():
    cf = CuckooFilter.for_capacity(10_000)
    k = keys(8_000)
    cf.add_hashes(k)
    assert cf.might_contain(k).all(), "cuckoo may NEVER miss an inserted key"


def test_fp_rate_in_budget():
    cf = CuckooFilter.for_capacity(20_000)
    cf.add_hashes(keys(20_000))
    probe = keys(100_000, prefix="other")
    fp = cf.might_contain(probe).mean()
    # 16-bit fingerprints, 4-way: bound ≈ 2*4/2^16 ≈ 1.2e-4
    assert fp < 5e-4, f"false-positive rate {fp:.2e} blew the design bound"


def test_deletion_removes_without_false_negatives_elsewhere():
    cf = CuckooFilter.for_capacity(8_000)
    keep, drop = keys(4_000, "keep"), keys(4_000, "drop")
    cf.add_hashes(keep)
    cf.add_hashes(drop)
    assert cf.remove_hashes(drop) == len(drop)
    # the contract deletion must preserve: everything still inserted probes
    # positive (removed keys MAY still probe positive via fp collisions)
    assert cf.might_contain(keep).all()
    assert cf.might_contain(drop).mean() < 0.01


def test_overflow_stash_never_drops():
    """A pathologically undersized table must park entries in the exact
    stash rather than drop them — a dropped insert would later probe
    falsely negative and the engine would re-insert a seen URL."""
    tiny = CuckooFilter(2, max_kicks=4)
    k = keys(200, "ov")
    tiny.add_hashes(k)
    assert len(tiny.stash) > 0, "test must actually overflow"
    assert tiny.might_contain(k).all(), "overflow dropped an entry"


def test_serialization_roundtrip():
    cf = CuckooFilter.for_capacity(2_000)
    cf.add_hashes(keys(2_000))
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.n_buckets == cf.n_buckets
    assert (cf2.table == cf.table).all()
    assert cf2.stash == cf.stash and cf2.n_added == cf.n_added
    probe = keys(1_000, "x")
    assert (cf.might_contain(probe) == cf2.might_contain(probe)).all()


def test_deterministic_build():
    """No RNG anywhere: two builds over the same keys are byte-identical
    (reproducibility is part of the north rule's exact-match story)."""
    k = keys(5_000)
    a, b = CuckooFilter.for_capacity(5_000), CuckooFilter.for_capacity(5_000)
    a.add_hashes(k)
    b.add_hashes(k)
    assert (a.table == b.table).all() and a.stash == b.stash


# ---------------------------------------------------------- sharded store


def test_sharded_cuckoo_probe_and_remove(spark, tmp_path):
    from pyspark.sql import functions as F

    from abwcf_spark.kernels.cuckoo_shards import ShardedCuckoo

    sc = ShardedCuckoo(str(tmp_path / "ck"), capacity=4_096, n_shards=4)
    ins = keys(2_000, "ins")
    df = spark.createDataFrame([(int(h),) for h in ins], "url_hash long")
    assert sc.add_dataframe(df, "url_hash") == len(ins)

    probe_udf = sc.make_probe_udf()
    both = np.concatenate([ins, keys(2_000, "fresh")])
    pdf = (
        spark.createDataFrame([(int(h),) for h in both], "h long")
        .select("h", probe_udf(F.col("h")).alias("maybe"))
        .toPandas()
        .set_index("h")["maybe"]
    )
    assert all(pdf[int(h)] for h in ins), "sharded probe missed an insert"
    fresh_fp = np.mean([bool(pdf[int(h)]) for h in keys(2_000, "fresh")])
    assert fresh_fp < 0.01

    # executor-side deletion — the capability the bloom lacks
    half = ins[:1_000]
    ddf = spark.createDataFrame([(int(h),) for h in half], "url_hash long")
    assert sc.remove_dataframe(ddf, "url_hash") == len(half)
    probe2 = sc.make_probe_udf()
    pdf2 = (
        spark.createDataFrame([(int(h),) for h in ins], "h long")
        .select("h", probe2(F.col("h")).alias("maybe"))
        .toPandas()
        .set_index("h")["maybe"]
    )
    assert all(pdf2[int(h)] for h in ins[1_000:]), "delete hit a kept key"

    # manifest roundtrip reopens the same state
    m = sc.to_manifest()
    assert m["kind"] == "cuckoo"
    sc2 = ShardedCuckoo.from_manifest(str(tmp_path / "ck"), m)
    probe3 = sc2.make_probe_udf()
    pdf3 = (
        spark.createDataFrame([(int(h),) for h in ins[1_000:]], "h long")
        .select(probe3(F.col("h")).alias("maybe"))
        .toPandas()["maybe"]
    )
    assert pdf3.all()


# ------------------------------------------------------------------- e2e


def test_crawl_with_cuckoo_matches_oracle(spark):
    """Same exact-equality gate as the bloom path: crawl order, URL-seen
    set, every frontier column."""
    from abwcf_spark.engine.crawler import SparkCrawler

    tables = gen_corpus(T1_MICRO)
    cfg = CrawlConfig()
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        use_bloom=True, seen_filter="cuckoo",
    )
    res = crawler.run(seeds=sdfs["seeds"])
    assert_crawl_equal(res, oracle)
    assert crawler.bloom.n_added > 0  # the cuckoo actually saw inserts


def test_cuckoo_resume_restores_kind(spark, tmp_path):
    """A checkpointed cuckoo crawl resumed by a FRESH crawler must reopen
    the CUCKOO files (the manifest kind tag wins over the constructor
    default) and finish byte-identical to the oracle."""
    from abwcf_spark.engine.crawler import SparkCrawler
    from abwcf_spark.kernels.cuckoo_shards import ShardedCuckoo

    tables = gen_corpus(T1_MICRO)
    cfg = CrawlConfig()
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)
    sdfs = corpus_to_spark(spark, tables)
    ckpt = str(tmp_path / "ckpt-cuckoo")
    a = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        checkpoint_dir=ckpt, checkpoint_interval=2,
        seen_filter="cuckoo",
    )
    a.run(seeds=sdfs["seeds"], stop_after_round=3)
    assert 0 < a.rnd
    del a  # "kill"

    # resume with the DEFAULT seen_filter arg: the manifest must win
    b = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        checkpoint_dir=ckpt, checkpoint_interval=2,
    )
    res = b.run(resume=True)
    assert isinstance(b.bloom, ShardedCuckoo)
    assert_crawl_equal(res, oracle)


def test_bad_seen_filter_rejected(spark):
    from abwcf_spark.engine.crawler import SparkCrawler

    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    with pytest.raises(ValueError, match="seen_filter"):
        SparkCrawler(
            spark, sdfs["corpus"], sdfs["robots"], CrawlConfig(),
            seen_filter="xor",
        )
