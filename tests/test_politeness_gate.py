"""Property tests for the ms-exact politeness gate discretization
(kernels/politeness.py ≙ HostQueue.scala:128-141's continuous-time rule:
dequeue only if now > crawlDelayEnd, then crawlDelayEnd = now + crawlDelay).

The round protocol schedules as-early-as-possible fetch times; these tests
check it against a direct simulation of the reference's gate."""

from hypothesis import given, settings
from hypothesis import strategies as st

from abwcf_spark.kernels.politeness import advance_gate, budget_for_round


def simulate_reference_gate(next_free_ms, round_idx, delay_ms, round_ms, cap):
    """Naive simulation: fetch at the earliest legal instant, repeatedly,
    while still inside the round window."""
    t = max(next_free_ms, round_idx * round_ms)
    end = (round_idx + 1) * round_ms
    times = []
    while t < end and len(times) < cap:
        times.append(t)
        t += delay_ms
        if delay_ms <= 0:
            break  # degenerate: unbounded rate, budget == cap
    if delay_ms <= 0:
        return cap if max(next_free_ms, round_idx * round_ms) < end else 0
    return len(times)


@given(
    next_free=st.integers(0, 10**7),
    rnd=st.integers(0, 5000),
    delay=st.integers(0, 25_000),
    round_ms=st.sampled_from([250, 1000, 4000]),
    cap=st.integers(1, 64),
)
@settings(max_examples=500, deadline=None)
def test_budget_matches_reference_simulation(next_free, rnd, delay, round_ms, cap):
    budget, first = budget_for_round(next_free, rnd, delay, round_ms, cap)
    want = simulate_reference_gate(next_free, rnd, delay, round_ms, cap)
    assert budget == want
    assert budget >= 0
    if budget > 0:
        start = max(next_free, rnd * round_ms)
        assert first == start
        assert start <= first < (rnd + 1) * round_ms


@given(
    next_free=st.integers(0, 10**7),
    rnd=st.integers(0, 5000),
    delay=st.integers(0, 25_000),
    fetched=st.integers(0, 64),
    round_ms=st.sampled_from([250, 1000, 4000]),
)
@settings(max_examples=500, deadline=None)
def test_gate_advance_monotone_and_spaced(next_free, rnd, delay, fetched, round_ms):
    g = advance_gate(next_free, rnd, delay, fetched, round_ms)
    if fetched == 0:
        assert g == next_free  # gate only advances on dequeue (HostQueue:131)
    else:
        start = max(next_free, rnd * round_ms)
        assert g == start + fetched * max(delay, 0)
        assert g >= next_free


def test_reference_defaults_budget_one():
    """delay 1 s, round 1 s → exactly 1 fetch/round: the reference gate
    verbatim (fixtures' determinism pin)."""
    gate = 0
    for rnd in range(5):
        budget, _ = budget_for_round(gate, rnd, 1000, 1000, 1000)
        assert budget == 1
        gate = advance_gate(gate, rnd, 1000, 1, 1000)


def test_delay_two_rounds_alternates():
    """delay 2 s, round 1 s → a fetch every other round."""
    gate, got = 0, []
    for rnd in range(6):
        budget, _ = budget_for_round(gate, rnd, 2000, 1000, 1000)
        got.append(budget)
        gate = advance_gate(gate, rnd, 2000, min(budget, 1), 1000)
    assert got == [1, 0, 1, 0, 1, 0]


def test_byte_budget_select_prefix_property(spark):
    """round_ops.byte_budget_select: per host the kept set must be a dense
    rank-PREFIX, every kept row's strict prefix-sum of declared sizes must
    be under the budget, the first excluded row's must not be, and total
    kept bytes can overshoot by at most one response (token-bucket
    going-negative semantics)."""
    import pandas as pd

    from abwcf_spark.kernels.hashing import xxhash64_str
    from abwcf_spark.operators.round_ops import byte_budget_select

    budget = 10_000
    rows, sizes = [], []
    for h in range(7):
        n = 3 + (h * 5) % 12
        for r in range(1, n + 1):
            url = f"https://h{h}.example/p/{r}"
            rows.append({"host": f"https://h{h}.example", "url": url, "rank": r})
            # deterministic sizes 0..6000, some urls missing from the corpus
            if (xxhash64_str(url) & 7) != 0:
                sizes.append({
                    "url": url,
                    "content_length": int(xxhash64_str("sz|" + url) % 6001),
                    "bytes": None,
                })
    sel = spark.createDataFrame(pd.DataFrame(rows))
    corpus = spark.createDataFrame(
        pd.DataFrame(sizes), "url string, content_length long, bytes binary"
    )
    kept = byte_budget_select(sel, corpus, budget).toPandas()
    size_of = {s["url"]: s["content_length"] for s in sizes}
    for h in {r["host"] for r in rows}:
        all_ranks = sorted(r["rank"] for r in rows if r["host"] == h)
        kept_ranks = sorted(kept[kept.host == h]["rank"])
        # dense prefix
        assert kept_ranks == all_ranks[: len(kept_ranks)], (h, kept_ranks)
        assert len(kept_ranks) >= 1, f"{h}: first row must always proceed"
        cum = 0
        for r in all_ranks:
            url = f"https://{h.split('//')[1]}/p/{r}"
            if r in kept_ranks:
                assert cum < budget, (h, r, cum)
            else:
                assert cum >= budget, (h, r, cum)
            cum += size_of.get(url, 0)
        kept_sizes = [size_of.get(f"https://{h.split('//')[1]}/p/{r}", 0)
                      for r in kept_ranks]
        assert sum(kept_sizes[:-1]) < budget  # overshoot ≤ last response


def test_byte_budget_crawl_matches_oracle(spark):
    """E2E parity: a crawl with a binding per-host byte budget must equal
    the pure-python oracle extended with the same token-bucket rule —
    gated-out rows retry in later rounds, so crawl order, fetched_round
    and fetch_order all shift and still must match exactly."""
    from abwcf_spark.config import CrawlConfig
    from abwcf_spark.engine.crawler import SparkCrawler
    from abwcf_spark.testing.compare import assert_crawl_equal
    from abwcf_spark.testing.corpus import CorpusSpec, gen_corpus
    from abwcf_spark.testing.oracle import crawl_oracle
    from abwcf_spark.testing.spark_fixtures import corpus_to_spark

    # zero crawl delays: the ROW budget is wide open (cap), so the byte
    # budget is the only thing pacing the hosts (~2-3 pages/round at ~1.3KB
    # pages under a 3000-byte budget)
    spec = CorpusSpec(
        n_hosts=3, urls_per_host=30, seed_hosts=2, redirect_rate=7,
        error_rate=9, crawl_delays={0: 0.0, 1: 0.0, 2: 0.0},
    )
    cfg = CrawlConfig(max_bytes_per_host_per_round=3000)
    tables = gen_corpus(spec)
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], cfg,
    )
    res = crawler.run(seeds=sdfs["seeds"])
    oracle = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"], cfg)
    assert_crawl_equal(res, oracle)
    # the budget must actually have bound: more rounds than the unlimited run
    free = crawl_oracle(tables["corpus"], tables["robots"], tables["seeds"],
                        CrawlConfig())
    assert oracle.rounds > free.rounds, "byte budget never bound — test inert"
