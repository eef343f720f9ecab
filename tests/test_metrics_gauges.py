"""O20 completion (VERDICT-r3 #6): cache/gauge rows in the durable metrics
table — bloom probe hit/miss counters (CacheMetrics.scala:53-69 analogue)
and entity-count gauges (hosts table size, cumulative frontier rows).

The gauge stages are hash-checked against the pure-python simulator through
the o20_metrics_table driver entry; the bloom cache stage's counts include
bloom false positives (engine-internal probabilistic state the exact
simulator cannot mirror), so its correctness is pinned here by exact
invariants instead."""

from pyspark.sql import functions as F

from abwcf_spark.config import CrawlConfig
from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.testing.corpus import CorpusSpec, gen_corpus
from abwcf_spark.testing.spark_fixtures import corpus_to_spark


def test_bloom_cache_stage_and_gauges(spark):
    # heavy re-link corpus: every page links to the same early URLs, so the
    # bloom sees plenty of true repeats (guaranteed positives)
    spec = CorpusSpec(
        n_hosts=2, urls_per_host=60, seed_hosts=2, with_images=False,
        redirect_rate=0, error_rate=0, nofollow_rate=0, dirty_link_rate=0,
        fanout=3, crawl_delays={0: 0.0, 1: 0.0},
    )
    cfg = CrawlConfig(max_fetches_per_host_per_round=25)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        use_bloom=True, bloom_capacity=1 << 14,
    )
    res = crawler.run(seeds=sdfs["seeds"])

    mt = crawler.metrics_table()
    stages = {r.stage for r in mt.select("stage").distinct().collect()}
    assert {"cache_bloom_probe", "gauge_hosts_rows", "gauge_frontier_rows"} <= stages

    # invariants per round, against the same round's driver-known counts
    rounds_with_probe = 0
    for m in res.metrics:
        if "bloom_probed" not in m:
            continue  # round 0: bloom empty, probe skipped
        rounds_with_probe += 1
        probed, pos = m["bloom_probed"], m["bloom_pos"]
        neg = probed - pos
        new_urls = m["new_urls"]
        assert 0 <= pos <= probed
        # every rejected-as-seen candidate MUST have probed positive (a
        # negative is a proof of novelty): positives >= true repeats
        true_seen = probed - new_urls
        assert pos >= true_seen, (pos, true_seen)
        # negatives all survive into new_urls
        assert neg <= new_urls, (neg, new_urls)
    assert rounds_with_probe >= 2

    # the table's cache rows equal the driver-known counts
    rows = {
        r.round: (r.passed, r.rejected)
        for r in mt.where(F.col("stage") == "cache_bloom_probe").collect()
    }
    for m in res.metrics:
        if "bloom_probed" in m:
            assert rows[m["round"]] == (
                m["bloom_probed"] - m["bloom_pos"], m["bloom_pos"]
            )

    # gauges: monotone frontier growth, positive hosts count
    grows = [
        r.passed for r in mt.where(F.col("stage") == "gauge_frontier_rows")
        .orderBy("round").collect()
    ]
    assert grows == sorted(grows) and grows[-1] == res.frontier.count()
    hosts_rows = [
        r.passed for r in mt.where(F.col("stage") == "gauge_hosts_rows")
        .orderBy("round").collect()
    ]
    assert hosts_rows[-1] == crawler.hosts.count() > 0
