"""End-to-end: the Spark round-loop engine must reproduce the pure-Python
ABWCF-semantics oracle EXACTLY — crawl order, URL-seen set, every frontier
column — on every fixture (north_rule; SURVEY.md §5.2).

The oracle encodes the reference's semantics line-cited to
/root/reference (see testing/oracle.py); these tests are therefore the
"matches the reference's crawl ordering and URL-seen set" gate."""

import pytest

from abwcf_spark.config import CrawlConfig
from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.testing.compare import assert_crawl_equal
from abwcf_spark.testing.corpus import (
    T1_MICRO,
    T2_MULTI,
    T2_SKEW,
    T2_TTLFLIP,
    CorpusSpec,
    gen_corpus,
)
from abwcf_spark.testing.oracle import crawl_oracle
from abwcf_spark.testing.spark_fixtures import corpus_to_spark


def run_both(spark, spec, cfg=CrawlConfig(), **crawler_kw):
    tables = gen_corpus(spec)
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg, **crawler_kw
    )
    result = crawler.run(seeds=sdfs["seeds"])
    return result, oracle


@pytest.mark.parametrize("use_bloom", [False, True])
def test_t1_micro(spark, use_bloom):
    res, oracle = run_both(spark, T1_MICRO, use_bloom=use_bloom)
    assert_crawl_equal(res, oracle)
    assert res.fetch_seq > 0


def test_graph_only_corpus(spark):
    """A link-graph corpus with no payload columns (neither bytes nor
    content_length) must crawl exactly like the oracle: every body size is
    unknown, so no page is too big to parse."""
    tables = gen_corpus(T1_MICRO)
    tables["corpus"] = tables["corpus"].drop(columns=["bytes", "content_length"])
    oracle = crawl_oracle(
        tables["corpus"], tables["robots"], tables["seeds"], CrawlConfig()
    )
    sdfs = corpus_to_spark(spark, tables)
    res = SparkCrawler(
        spark, sdfs["corpus"].drop("bytes", "content_length"), sdfs["robots"],
    ).run(seeds=sdfs["seeds"])
    assert_crawl_equal(res, oracle)
    assert res.fetch_seq > 0


# Spark jobs launched from the driver's main thread by a T1_MICRO crawl
# built with collect_metrics=False, before per-stage counts were always on:
# 190-191 over 4 runs on a 4-vCPU box (local[4], pyspark 4.1.2); the same
# crawl with the counts on ran 270.  The always-on counts ride jobs
# that already run, so the crawl must stay within the highest of those.
T1_MICRO_MAIN_THREAD_JOBS = 191


def test_t1_metrics_match_oracle(spark):
    """Per-stage counts are recorded on every crawl — ``collect_metrics``
    is ignored — equal to the oracle, at no extra Spark jobs."""
    tables = gen_corpus(T1_MICRO)
    oracle = crawl_oracle(
        tables["corpus"], tables["robots"], tables["seeds"], CrawlConfig()
    )
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], collect_metrics=False,
    )
    sc, group = spark.sparkContext, "t1-metrics-match-oracle"
    sc.setJobGroup(group, "T1_MICRO crawl")
    try:
        res = crawler.run(seeds=sdfs["seeds"])
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert 0 < n_jobs <= T1_MICRO_MAIN_THREAD_JOBS, n_jobs
    assert len(res.metrics) == len(oracle.metrics)
    for s_m, o_m in zip(res.metrics, oracle.metrics):
        for k in ("candidates", "normalized", "new_urls", "lenient_passed",
                  "robots_fetched", "inserted", "disallowed", "fetched", "emitted",
                  "hosts_rows", "frontier_rows"):
            assert s_m[k] == o_m[k], f"round {o_m['round']} metric {k}: {s_m[k]} != {o_m[k]}"
        if s_m["round"] > 0:  # the bloom holds round 0's inserts from here on
            # a negative probe proves novelty: negatives all survive
            assert 0 <= s_m["bloom_probed"] - s_m["bloom_pos"] <= s_m["new_urls"]


def test_t2_multi(spark):
    """Multi-host: robots divergence (unavailable→ALLOW_ALL, unreachable→
    ALLOW_NONE), per-host crawl delays 0.5/1/2 s → per-round budgets 8/4/2
    at round_seconds=4, redirects, errors, nofollow, dirty links."""
    res, oracle = run_both(spark, T2_MULTI, CrawlConfig(round_seconds=4.0))
    assert_crawl_equal(res, oracle)
    statuses = {s for s in res.frontier_pdf()["status"]}
    assert "Disallowed" in statuses  # strict robots actually fired


def test_t2_skew_salted(spark):
    """90%-one-host skew with the salted politeness pre-rank enabled —
    salting must not change any result (top-B per host ⊆ ∪ per-salt top-B)."""
    res, oracle = run_both(
        spark, T2_SKEW, CrawlConfig(round_seconds=4.0), use_bloom=True, n_salts=4
    )
    assert_crawl_equal(res, oracle)


def test_ttl_expiry_strict_reeval_at_fetch_time(spark):
    """Rules change mid-crawl: host 0's robots flips to disallow ALL of /p/
    at virtual t=60000s; the 24h TTL expires at round 5 (20000s rounds), the
    refresh-on-access refetches, and every Discovered-but-unfetched host-0
    row must flip to Disallowed AT FETCH TIME — exactly as the oracle's
    re-expression of StrictRobotsFilter + HostManager refresh-on-access."""
    cfg = CrawlConfig(round_seconds=20_000.0, max_fetches_per_host_per_round=1)
    res, oracle = run_both(spark, T2_TTLFLIP, cfg)
    assert_crawl_equal(res, oracle)
    pdf = res.frontier_pdf()
    flipped = pdf[
        (pdf["status"] == "Disallowed")
        & pdf["url"].str.contains("h0.example/p/")
        & (pdf["discovered_round"] < 5)
    ]
    # rows inserted as Discovered under the old rules, disallowed later
    assert len(flipped) > 0, "no fetch-time strict flips happened — fixture dead"
    # and none of them were ever fetched
    assert flipped["fetch_order"].isna().all()


def test_seen_broadcast_guard_shuffled_fallback(spark):
    """With seen_broadcast_limit=0 every round's maybe-set takes the
    shuffled anti-join fallback instead of the broadcast hit-list path —
    results must be identical (the guard may only change the plan)."""
    res, oracle = run_both(
        spark, T1_MICRO, use_bloom=True, seen_broadcast_limit=0
    )
    assert_crawl_equal(res, oracle)


def test_html_bytes_parse_path(spark):
    """parse_html mode: out_links are derived IN-LOOP from real <a href>
    markup (relative hrefs absolutized, first-occurrence distinct, meta-
    robots nofollow kills the doc — HtmlParser.scala:28-72) by the same
    kernel the oracle runs; crawl order and frontier must match exactly."""
    spec = CorpusSpec(
        n_hosts=3, urls_per_host=16, seed_hosts=2, nofollow_rate=5,
        html_bodies=True, with_images=False,
    )
    cfg = CrawlConfig(round_seconds=4.0, parse_html=True)
    res, oracle = run_both(spark, spec, cfg)
    assert_crawl_equal(res, oracle)
    pdf = res.frontier_pdf()
    # the crawl actually expanded through parsed links (not just seeds)
    assert (pdf["crawl_depth"] > 0).any()
    assert res.fetch_seq > spec.seed_hosts


def test_depth_limit_cuts_expansion_not_fetch(spark):
    cfg = CrawlConfig(max_crawl_depth=2)
    res, oracle = run_both(spark, T1_MICRO, cfg)
    assert_crawl_equal(res, oracle)
    pdf = res.frontier_pdf()
    # depth-2 pages are fetched (Processed) but emit no children (no depth-3)
    assert (pdf["crawl_depth"] <= 2).all()
    d2 = pdf[pdf["crawl_depth"] == 2]
    assert len(d2) > 0 and (d2["status"] == "Processed").any()


def test_url_filter_must_not_match(spark):
    cfg = CrawlConfig(must_not_match=(r".*/p/[0-9]*[13579]",))  # drop odd page ids
    res, oracle = run_both(spark, T1_MICRO, cfg)
    assert_crawl_equal(res, oracle)
    assert not res.frontier_pdf()["url"].str.match(r".*/p/\d*[13579]$").any()


def test_custom_prioritizer_plug_point(spark):
    """A non-builtin prioritizer (UserCode.scala:34-35 plug-point): priority
    = len(url)*1000 - depth, supplied as a Column to the engine and as a
    python fn to the oracle — exact parity, and provably different ordering
    from the default."""
    from pyspark.sql import functions as F

    cfg = CrawlConfig(round_seconds=4.0)
    tables = gen_corpus(T2_MULTI)
    oracle = crawl_oracle(
        tables["corpus"], tables["robots"], tables["seeds"], cfg,
        prioritizer_fn=lambda url, depth: len(url) * 1000 - depth,
    )
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
        prioritizer=(F.length("url") * 1000 - F.col("crawl_depth")).cast("long"),
    )
    res = crawler.run(seeds=sdfs["seeds"])
    assert_crawl_equal(res, oracle)
    default_oracle = crawl_oracle(
        tables["corpus"], tables["robots"], tables["seeds"], cfg
    )
    assert [u for _, u in oracle.crawl_order] != [
        u for _, u in default_oracle.crawl_order
    ], "custom prioritizer did not change the crawl order — test is vacuous"


def test_custom_fetch_consumer_plug_point(spark):
    """A user fetch-result consumer (UserCode.scala:68-69 plug-point): flag
    every fetched url ending in an odd digit; the engine must count exactly
    those as failures."""
    from pyspark.sql import functions as F

    spec = CorpusSpec(n_hosts=2, urls_per_host=12, seed_hosts=2, with_images=False)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)

    def consumer(fetched):
        return fetched.select(
            "url", (~F.col("url").rlike("[13579]$")).alias("payload_ok")
        )

    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"],
        fetch_consumer=consumer,
    )
    res = crawler.run(seeds=sdfs["seeds"])
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"])
    assert_crawl_equal(res, oracle)
    # consumer sees only urls present in the corpus (the fetch join is the
    # payload lookup; dead links fetch nothing)
    corpus_urls = set(tables["corpus"]["url"])
    import re

    want = sum(
        1 for _, u in oracle.crawl_order
        if u in corpus_urls and re.search(r"[13579]$", u)
    )
    assert want > 0 and res.payload_failures == want


def test_payload_validation_all_pass(spark):
    spec = CorpusSpec(n_hosts=2, urls_per_host=12, seed_hosts=2)
    tables = gen_corpus(spec)
    oracle = crawl_oracle(
        tables["corpus"], tables["robots"], tables["seeds"], validate_payloads=True
    )
    assert oracle.payload_failures == []
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], validate_payloads=True
    )
    res = crawler.run(seeds=sdfs["seeds"])
    assert_crawl_equal(res, oracle)
    assert res.payload_failures == 0


def test_payload_validation_detects_corruption(spark):
    """Swap the payloads of two pages: both still decode, but pixels/caption
    no longer match their rows' metadata → both rows must fail validation.
    (Corrupting trailing CRC bytes is NOT detectable: like real decoders,
    ours doesn't verify chunk CRCs.)"""
    spec = CorpusSpec(n_hosts=1, urls_per_host=6, seed_hosts=1)
    tables = gen_corpus(spec)
    corpus = tables["corpus"].copy()
    idxs = corpus[corpus["bytes"].notna()].index[:2]
    a, b = idxs[0], idxs[1]
    corpus.at[a, "bytes"], corpus.at[b, "bytes"] = (
        corpus.at[b, "bytes"],
        corpus.at[a, "bytes"],
    )
    tables["corpus"] = corpus
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], validate_payloads=True
    )
    crawler.run(seeds=sdfs["seeds"])
    assert crawler.payload_failures >= 1


def test_robots_redirects_and_truncation(spark):
    """robots.txt fetch realism e2e (RobotsFetcher.scala:73-110): redirect
    chains (1→2 resolves to the target's rules; 3↔4 loops → unavailable →
    ALLOW_ALL) and a >500 KiB body whose truncate-then-parse COMPILES
    DIFFERENT RULES than a full parse (beyond-cut Disallow lost) — the
    engine must match the oracle on every row."""
    spec = CorpusSpec(
        n_hosts=6, urls_per_host=16, seed_hosts=6,
        redirect_rate=0, error_rate=0, nofollow_rate=0,
        with_images=False,
        robots_redirects={1: 2, 3: 4, 4: 3},
        robots_huge_hosts=(5,),
    )
    res, oracle = run_both(spark, spec, CrawlConfig(round_seconds=4.0))
    assert_crawl_equal(res, oracle)
    pdf = res.frontier_pdf()
    # truncation changed behavior: the huge host's /private/ pages were
    # fetched (the blocking rule lies beyond the 500 KiB cut) ...
    h5_priv = pdf[(pdf["host"] == "https://h5.example")
                  & pdf["url"].str.contains("/private/")]
    assert len(h5_priv) > 0 and (h5_priv["status"] == "Processed").all()
    # ... while a normal host's /private/ links are robots-blocked at the
    # lenient filter (rules known from round 0 → dropped pre-insert, so
    # they never even enter the frontier)
    h0_priv = pdf[(pdf["host"] == "https://h0.example")
                  & pdf["url"].str.contains("/private/")]
    assert len(h0_priv) == 0
    # loop hosts fell back to ALLOW_ALL (unavailable): their pages crawled
    h3 = pdf[pdf["host"] == "https://h3.example"]
    assert (h3["status"] != "Disallowed").all() and len(h3) > 0


def test_relink_heavy_seen_set_broadcast_and_fallback(spark):
    """Seen-set confirm under heavy re-discovery (popular URLs re-linked
    every round): the maybe-set is NOT fpp-sized — every re-discovered URL
    probes positive.  The broadcast gate's estimate (last round's emitted
    count) is a true UPPER bound on the maybe-set, so it can never
    under-gate; both the broadcast-confirm path (default 5M limit) and the
    shuffled-fallback path (limit forced to 1) must match the oracle
    exactly on the same corpus."""
    spec = CorpusSpec(
        n_hosts=4, urls_per_host=200, seed_hosts=4, with_images=False,
        fanout=6, cross_host_rate=1, dirty_link_rate=0,
        redirect_rate=5, error_rate=0, nofollow_rate=0,
        crawl_delays={i: 0.0 for i in range(4)},
    )
    cfg = CrawlConfig(max_fetches_per_host_per_round=50)
    res_b, oracle = run_both(spark, spec, cfg, use_bloom=True)
    assert_crawl_equal(res_b, oracle)
    # re-discovery really is heavy: total emitted far exceeds unique URLs
    emitted_total = sum(m["emitted"] for m in oracle.metrics)
    assert emitted_total > 1.5 * len(oracle.frontier)
    res_f, _ = run_both(
        spark, spec, cfg, use_bloom=True, seen_broadcast_limit=1
    )
    assert_crawl_equal(res_f, oracle)
