"""Physical-plan regression tests: the scale-critical plan shapes must not
silently degrade (SURVEY.md §4 — what Catalyst must give us).

These catch the class of bug where a correct-but-catastrophic join order
sneaks in (e.g. a left join whose big right side cannot broadcast, sort-
merge shuffling the whole payload table every round — found and fixed
during round 1)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from abwcf_spark.config import CrawlConfig
from abwcf_spark.engine.crawler import SparkCrawler
from abwcf_spark.operators.round_ops import fetch_and_emit, url_seen_filter
from abwcf_spark.operators.udfs import make_bloom_probe_udf, resolve_redirect_udf
from abwcf_spark.testing.corpus import T1_MICRO, gen_corpus
from abwcf_spark.testing.spark_fixtures import corpus_to_spark
from tests.conftest import testdata_dir as _sf_dir


def plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    return corpus_to_spark(spark, gen_corpus(T1_MICRO))


def test_fetch_join_broadcasts_fetch_set(spark, fixture_dfs):
    """The payload-table join must broadcast the (small) fetch set; a
    sort-merge join here shuffles the whole payload table per round."""
    sel = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["https://h0.example/p/0"], "host": ["https://h0.example"],
             "crawl_depth": [0], "rank": [1], "fetch_order": [0]}
        )
    )
    fetched, emitted = fetch_and_emit(
        sel, fixture_dfs["corpus"], CrawlConfig(), resolve_redirect_udf
    )
    p = plan(fetched)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_url_seen_bloom_path_never_shuffles_frontier(spark, fixture_dfs):
    """With the bloom probe, the frontier side must appear only under
    broadcast exchanges (scan + broadcast-join), never a shuffle exchange."""
    from abwcf_spark.kernels.bloom import BloomFilter

    bloom = BloomFilter.for_capacity(1000)
    bloom.add_hashes(__import__("numpy").arange(10, dtype="int64"))
    probe, bc = make_bloom_probe_udf(spark, bloom)
    cand = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://h0.example/p/{i}" for i in range(5)],
                      "crawl_depth": [0] * 5, "seq": list(range(5))})
    )
    frontier = spark.createDataFrame(
        [], "url string, url_hash long, host string, status string, crawl_depth int,"
            " crawl_priority long, discovered_round int, fetched_round int,"
            " fetch_order long, partition_id int",
    )
    out = url_seen_filter(cand, frontier, probe)
    p = plan(out)
    assert "SortMergeJoin" not in p, "frontier must be scanned, not shuffled"
    bc.unpersist()


def test_query_scan_prunes_columns(spark):
    """o3 must read only the 2 projected columns from the parquet scan
    (ReadSchema), with the length predicate pushed."""
    from abwcf_spark.queries import QUERIES

    df = QUERIES["o3_regex_filter"](spark, _sf_dir("0.001"))
    p = plan(df)
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and "p_partkey" in rs[0] and "p_name" in rs[0]
    assert "p_type" not in rs[0] and "p_brand" not in rs[0], "column pruning lost"


def test_fetch_order_counts_window_is_partitioned(spark):
    """The per-host counts prefix sum must run as a PARTITIONED window
    (parallel across host ranges); the only single-partition window may be
    the one over per-partition totals (≤`parts` rows, host-count invariant).
    Verified structurally: every window whose frame touches `host` rows
    carries a partition spec."""
    import re

    from abwcf_spark.operators.round_ops import assign_fetch_order

    sel = spark.createDataFrame(
        pd.DataFrame({
            "url": [f"https://h{i}.example/p/0" for i in range(50)],
            "host": [f"https://h{i}.example" for i in range(50)],
            "crawl_depth": [0] * 50,
            "rank": [1] * 50,
        })
    )
    out = assign_fetch_order(sel, 0, parts=8)
    p = plan(out)
    # every windowspec that SORTS host rows must be partitioned by _pid;
    # global (partition-less) specs may only order by _pid (≤parts rows)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    host_specs = [s for s in specs if "host" in s]
    assert host_specs, f"no host windowspec found:\n{p}"
    for s in host_specs:
        assert s.strip().startswith("_pid"), (
            f"host-ordered window is global/single-partition: {s}"
        )
    # and the result is the correct dense global order
    rows = out.orderBy("fetch_order").collect()
    hosts_in_order = [r.host for r in rows]
    assert hosts_in_order == sorted(hosts_in_order)
    assert [r.fetch_order for r in rows] == list(range(50))


def test_fetch_order_hinted_path_matches_two_level(spark):
    """The sampling-free single-partition prefix sum taken when
    ``n_hosts_hint`` proves the count table small must produce EXACTLY the
    fetch orders of the scalable two-level path (same (host ASC, rank ASC)
    flattening, same cross-round offset)."""
    import random

    from abwcf_spark.operators.round_ops import assign_fetch_order

    rng = random.Random(7)
    rows = []
    for i in range(40):
        host = f"https://h{i:02d}.example"
        for r in range(1, rng.randint(1, 6)):
            rows.append((f"{host}/p/{r}", host, 0, r))
    pdf = pd.DataFrame(rows, columns=["url", "host", "crawl_depth", "rank"])
    sel = spark.createDataFrame(pdf)
    base = 1234
    two_level = {
        r.url: r.fetch_order
        for r in assign_fetch_order(sel, base, parts=8).collect()
    }
    hinted = {
        r.url: r.fetch_order
        for r in assign_fetch_order(sel, base, parts=8, n_hosts_hint=40).collect()
    }
    assert hinted == two_level
    assert sorted(hinted.values()) == list(range(base, base + len(rows)))


def test_status_merge_broadcasts_update_side(spark, fixture_dfs):
    """merge_fetch_statuses is a REFERENCE-ONLY CoW kernel (the engine's
    commit path is MoR — covered by test_mor_reconcile_keeps_frontier_scan_
    shaped below); as a public building block it must still broadcast the
    round-sized update side rather than shuffle the frontier."""
    from abwcf_spark.operators.round_ops import merge_fetch_statuses

    crawler = SparkCrawler(
        spark, fixture_dfs["corpus"], fixture_dfs["robots"], use_bloom=False
    )
    crawler.seed(fixture_dfs["seeds"])
    crawler._step()
    sel = spark.createDataFrame(
        pd.DataFrame({"url": ["https://h0.example/p/0"], "fetch_order": [0]})
    ).select("url", F.col("fetch_order").cast("long"))
    merged = merge_fetch_statuses(crawler.frontier, sel, 1)
    p = plan(merged)
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_minhash_confirm_semi_joins_shingle_side(spark):
    """The exact-Jaccard confirm must semi-join the doc_b shingle side down
    to candidate docs BEFORE the (doc_b, shingle) equi-join — without it the
    confirm shuffles the full corpus shingle table (VERDICT r2 #4)."""
    from abwcf_spark.queries import minhash_lsh_candidates

    p = plan(minhash_lsh_candidates(spark, _sf_dir("0.01")), mode="simple")
    assert "LeftSemi" in p, "doc_b shingle side no longer semi-joined to pairs"


def test_mor_reconcile_keeps_frontier_scan_shaped(spark, fixture_dfs):
    """The merge-on-read reconcile (data anti-join upd.urls ∪ upd) must
    broadcast the bounded update side into the data scan — a sort-merge
    anti-join here would shuffle the whole frontier every read."""
    crawler = SparkCrawler(
        spark, fixture_dfs["corpus"], fixture_dfs["robots"],
        use_bloom=False, collect_metrics=False,
    )
    crawler.seed(fixture_dfs["seeds"])
    crawler._step()
    crawler._step()
    assert crawler.upd_rows > 0, "fixture crawl produced no updates"
    p = plan(crawler.frontier)
    assert "LeftAnti" in p
    assert "SortMergeJoin" not in p, "reconcile shuffles the frontier"


def test_ann_batch_single_broadcast_no_cartesian(spark):
    """The batch-ANN candidate join must be ONE broadcast join of the
    exploded query probes into the signature scan — no cartesian/nested-loop
    product of queries × corpus."""
    from abwcf_spark.queries import embedding_ann_batch

    p = plan(embedding_ann_batch(spark, _sf_dir("0.01")), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in p


def test_topk_per_source_is_two_phase_salted(spark):
    """topk_per_source must keep its skew-bounded shape: TWO window nodes,
    the inner one partitioned by (source, salt) so no reducer ever sorts a
    whole hot key — and the two-phase answer must equal the single-window
    answer on a skewed input."""
    from abwcf_spark.queries import topk_per_source

    out = topk_per_source(spark, _sf_dir("0.001"))
    p = plan(out)
    assert p.count("Window") >= 2, p
    assert "pmod" in p and "xxhash64" in p, p

    # semantic equivalence vs the plain single-window top-k
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{_sf_dir('0.001')}/documents.parquet").select(
        "source", "doc_id",
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1)
        .cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    want = (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("source", "doc_id", "n_tokens", "rk")
    )
    got_rows = {tuple(r) for r in out.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows == want_rows


def test_phash_near_dup_no_cartesian(spark):
    """The banded pHash pairs must stay bucketed on (band, bval) — never a
    cartesian/nested-loop product."""
    from abwcf_spark.queries import phash_near_dup_pairs

    p = plan(phash_near_dup_pairs(spark, _sf_dir("0.01")))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "bit_count" in p  # integer confirm stays JVM-side


def test_embedding_ann_ivf_is_joinless_scan(spark):
    """IVF candidate generation is map-only: broadcast-literal centroids,
    cell filter in the scan stage, one TakeOrdered for the re-rank — the
    plan must contain NO join operator of any kind."""
    from abwcf_spark.queries import embedding_ann_ivf

    p = plan(embedding_ann_ivf(spark, _sf_dir("0.01")))
    assert "Join" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_dup_spans_no_pair_join(spark):
    """Span-level dedup must stay linear: one equi-join on fingerprint and
    keyed aggregations — never a doc×doc cartesian/nested-loop product,
    and no window over an unpartitioned key."""
    from abwcf_spark.queries import dup_span_extract

    p = plan(dup_span_extract(spark, _sf_dir("0.01")))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "posexplode" in p or "Generate" in p, p


def test_embedding_ann_ivf_batch_single_broadcast(spark):
    """Batch IVF must broadcast the exploded (query × probes) set into the
    cell-assigned corpus as ONE equi-join — no cartesian/nested-loop, no
    sort-merge shuffle of the corpus."""
    from abwcf_spark.queries import embedding_ann_ivf_batch

    p = plan(embedding_ann_ivf_batch(spark, _sf_dir("0.01")), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") == 1, p
    assert "SortMergeJoin" not in p


def test_training_pipeline_single_plan_no_cartesian(spark):
    """The composite pipeline entry must stay ONE Catalyst plan with no
    materialization boundary and no product join: equi-joins only (the
    span label join + the doc-metadata join), the token/gate/sample
    stages as scan-side expressions (md5 threshold visible in the plan),
    and column pruning on the documents scan (never n_chars)."""
    from abwcf_spark.queries import training_pipeline_sample

    df = training_pipeline_sample(spark, _sf_dir("0.001"))
    p = plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "md5" in p, p          # sample predicate stayed in-plan
    assert "n_chars" not in p, p  # documents scan is column-pruned


def test_incremental_minhash_no_cartesian_broadcast_confirm(spark):
    """The ingest-pass near-dup must stay bucket-joined end to end: no
    cartesian product anywhere, and the Jaccard confirm reaches the
    shingle scan as broadcast joins (candidate pairs ≪ corpus)."""
    from abwcf_spark.queries import incremental_minhash_dedup

    plan = incremental_minhash_dedup(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_image_caption_filter_is_pure_scan_stage(spark):
    """The LAION-style filter is a map-only Catalyst pass: no Python
    evaluation (the binary column is measured with length(), never
    decoded), no join, no aggregation — at 100 TB it must stay a single
    scan-stage projection."""
    from abwcf_spark.queries import image_caption_filter

    p = plan(image_caption_filter(spark, _sf_dir("0.01")))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p, p
    assert "HashAggregate" not in p, p


def test_caption_dedup_generic_equi_join_no_product(spark):
    """The per-caption dim comes back via a caption-keyed EQUI-join with
    no forced broadcast (at 100 TB the dim is caption-cardinality-sized;
    AQE converts to broadcast at runtime when it is actually small) —
    never a cartesian/nested-loop product, and never a window over the
    unpartitioned corpus."""
    from abwcf_spark.queries import caption_dedup_generic

    p = plan(caption_dedup_generic(spark, _sf_dir("0.01")))
    assert "Join caption" in p or "SortMergeJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p, p


def test_pii_redact_is_pure_scan_stage(spark):
    """PII redaction is JVM regexp_count/regexp_replace only — no Python
    eval, no join, no shuffle beyond the input distribution."""
    from abwcf_spark.queries import pii_redact

    p = plan(pii_redact(spark, _sf_dir("0.01")))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p and "HashAggregate" not in p, p


def test_image_training_pipeline_no_cartesian(spark):
    """The composed image curation (filter -> caption dedup -> pHash
    keep-one) must stay product-free end to end: capped banded equi-joins
    and broadcast dims only."""
    from abwcf_spark.queries import image_training_pipeline

    p = plan(image_training_pipeline(spark, _sf_dir("0.01")))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_image_caption_consolidate_digest_joins_only(spark):
    """Consolidation joins are digest-keyed equi-joins (at scale the
    per-content dim is image-count-sized — it must NOT rely on a
    cartesian/nested-loop shape, and payload bytes must not be shuffle
    keys: the only md5() appears in the scan-stage projection)."""
    from abwcf_spark.queries import image_caption_consolidate

    p = plan(image_caption_consolidate(spark, _sf_dir("0.01")))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_image_aspect_buckets_assignment_is_joinless(spark):
    """The bucket assignment folds a literal array in the scan stage; the
    ONLY join in the plan is the broadcast of the tiny per-bucket counts."""
    from abwcf_spark.queries import image_aspect_buckets

    p = plan(image_aspect_buckets(spark, _sf_dir("0.01")))
    assert "BroadcastHashJoin" in p, p
    for other in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                  "BroadcastNestedLoopJoin"):
        assert other not in p, other
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
