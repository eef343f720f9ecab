"""Driver-facing query registry: each re-expressed ABWCF operator shape
(SURVEY.md §2) plus the training-data pipeline operators, as
(spark, sf_dir) → DataFrame callables with matching DuckDB oracle SQL.

The driver runs each Spark query AND its oracle SQL side-by-side at sf=0.01
and compares row-count + schema + order-insensitive value hash, so:
- every computed column is aliased identically on both sides;
- outputs avoid *computed* floats (float reduction order is engine-specific)
  — aggregates are integer/decimal-exact; passthrough doubles are fine.

Crawl-pipeline entries that are not SQL-expressible (full round loop,
xxhash64-based MinHash) have no oracle_sql → the driver records the weaker
rows-only check; their exactness is enforced against the pure-Python oracle
in tests/ instead (tests/test_crawl_e2e.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict = {}
ORACLE: dict[str, str] = {}


def q(name: str, oracle_sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle_sql is not None:
            ORACLE[name] = oracle_sql
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _keyed_spread(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit hash repartition on the window/aggregation key at the
    session's shuffle-partition count.  The following window reuses this
    exchange (same key, same partition count — no second shuffle); what it
    buys is SORT parallelism: AQE's coalescing would otherwise merge a
    small shuffle into a handful of partitions and serialize the per-key
    sort (measured 2× on the sf1.0 window queries).  Scale-adaptive: the
    count follows spark.sql.shuffle.partitions, never a local constant."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *[F.col(c) for c in cols])


# ---------------------------------------------------------------------------
# O3 — URL filter as pure Catalyst predicates (UrlFilter.scala:36-44):
# length gate + must-match regex, pushed into the scan.
# ---------------------------------------------------------------------------
@q(
    "o3_regex_filter",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE length(p_name) <= 30 AND regexp_matches(p_name, 'green|blue')
    """,
)
def o3_regex_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .where((F.length("p_name") <= 30) & F.col("p_name").rlike("green|blue"))
        .select("p_partkey", "p_name")
    )


# ---------------------------------------------------------------------------
# O5 — exact URL-seen dedup as LEFT ANTI join (PageManager identity,
# UrlDeduplicator.scala:13): candidates not already in the frontier.
# ---------------------------------------------------------------------------
@q(
    "o5_anti_join_dedup",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def o5_anti_join_dedup(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    # join strategy deliberately left to the planner: at sf1.0 the probe-key
    # side (~12 MB of bigints) auto-broadcasts under the 64 MB threshold
    # (measured equal to a forced broadcast), and at larger scale factors
    # the size-based fallback to a shuffled join is the right call — a
    # forced hint would pin the wrong strategy at exactly the scale where
    # it hurts
    return customer.join(orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# O5 — in-round first-discovery-wins (repeat Discover is a no-op,
# PageManager.scala:107): per key keep the lexicographically-least
# (discovery order) row via window rank.
# ---------------------------------------------------------------------------
@q(
    "o5_first_discovery_wins",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS first_orderdate
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def o5_first_discovery_wins(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _keyed_spread(
            _t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey", "o_orderdate"),
            "o_custkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            # dates as canonical strings: cross-engine value-hash parity
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# O7 — robots rules lookup as a broadcast dim join (HostInformation is one
# row per host — LenientRobotsFilter.scala:53-57 cache ≙ broadcast hosts).
# Money summed in exact integer cents (float reductions are order-sensitive).
# ---------------------------------------------------------------------------
@q(
    "o7_broadcast_dim_join",
    """
    SELECT n_name, count(*) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('EUROPE', 'ASIA')
    GROUP BY n_name
    """,
)
def o7_broadcast_dim_join(spark, sf_dir):
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name").isin("EUROPE", "ASIA"))
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.round(F.col("s_acctbal") * 100).cast("bigint")).alias(
                "acctbal_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# O8 — per-host politeness selection as window rank (HostQueue max-heap +
# deterministic tiebreak, HostQueue.scala:69; SURVEY.md §7.1): top-3 orders
# per customer by (totalprice DESC, orderkey ASC).
# ---------------------------------------------------------------------------
@q(
    "o8_politeness_window_rank",
    """
    SELECT o_custkey, o_orderkey, rank_in_host
    FROM (
      SELECT o_custkey, o_orderkey, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_host
      FROM orders
    ) WHERE rank_in_host <= 3
    """,
)
def o8_politeness_window_rank(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _keyed_spread(
            _t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey", "o_totalprice"),
            "o_custkey",
        )
        .withColumn("rank_in_host", F.row_number().over(w))
        .where(F.col("rank_in_host") <= 3)
        .select("o_custkey", "o_orderkey", "rank_in_host")
    )


# ---------------------------------------------------------------------------
# O8 — the crawl-delay budget gate arithmetic (HostQueue.scala:128-141
# discretized; kernels/politeness.budget_for_round) as pure integer SQL:
# budget = min(ceil((end-start)/delay), cap), 0 if the gate is past the
# round, cap if delay = 0.  Same formula the engine runs per host per round.
# ---------------------------------------------------------------------------
@q(
    "o8_budget_gate",
    """
    SELECT s_suppkey, CAST(
      CASE
        WHEN greatest(next_free_ms, 2000) >= 3000 THEN 0
        WHEN delay_ms <= 0 THEN 8
        ELSE least(CAST(floor((3000 - greatest(next_free_ms, 2000) + delay_ms - 1)
                        / delay_ms) AS BIGINT), 8)
      END AS INT) AS budget
    FROM (
      SELECT s_suppkey, (s_suppkey % 5) * 250 AS delay_ms,
             (s_suppkey % 7) * 300 AS next_free_ms
      FROM supplier
    )
    """,
)
def o8_budget_gate(spark, sf_dir):
    base = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 5) * 250).alias("delay_ms"),
        ((F.col("s_suppkey") % 7) * 300).alias("next_free_ms"),
    )
    start = F.greatest(F.col("next_free_ms"), F.lit(2000))
    budget = (
        F.when(start >= 3000, F.lit(0))
        .when(F.col("delay_ms") <= 0, F.lit(8))
        .otherwise(
            F.least(
                F.floor((F.lit(3000) - start + F.col("delay_ms") - 1) / F.col("delay_ms")).cast("bigint"),
                F.lit(8).cast("bigint"),
            )
        )
    )
    return base.select("s_suppkey", budget.cast("int").alias("budget"))


# ---------------------------------------------------------------------------
# O8b — per-host BYTE budget (Fetcher.scala:144 bytes/s token bucket,
# reference.conf:130-145, discretized to the round): within the row-budget
# rank order, keep the maximal prefix whose STRICT prefix sum of declared
# sizes (Content-Length analogue) is under the budget.  Runs the actual
# engine operator (round_ops.byte_budget_select — the same broadcast size
# lookup + per-host prefix-sum window the crawl loop executes when
# cfg.max_bytes_per_host_per_round is set) against a plain-SQL cumulative
# window — the strongest oracle form.
# ---------------------------------------------------------------------------
@q(
    "o8_byte_budget_gate",
    """
    WITH ranked AS (
      SELECT CAST(o_custkey % 50 AS BIGINT) AS host,
             o_orderkey AS url,
             ROW_NUMBER() OVER (PARTITION BY o_custkey % 50
                                ORDER BY o_orderkey) AS rank
      FROM orders
    ), capped AS (
      SELECT host, url, rank, CAST(url * 37 % 5000 AS BIGINT) AS bl
      FROM ranked WHERE rank <= 100
    )
    SELECT host, url AS url_key, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT host, url, rank,
             COALESCE(SUM(bl) OVER (PARTITION BY host ORDER BY rank
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM capped
    ) WHERE cum_before < 20000
    """,
)
def o8_byte_budget_gate(spark, sf_dir):
    from .operators.round_ops import byte_budget_select

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("host").orderBy("url")
    sel = (
        orders.select(
            (F.col("o_custkey") % 50).cast("long").alias("host"),
            F.col("o_orderkey").alias("url"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 100)
    )
    corpus = orders.select(
        F.col("o_orderkey").alias("url"),
        (F.col("o_orderkey") * 37 % 5000).cast("long").alias("content_length"),
    )
    return byte_budget_select(sel, corpus, 20000).select(
        "host", F.col("url").alias("url_key"), "rank"
    )


# ---------------------------------------------------------------------------
# O11 — fetch status routing (Fetcher.scala:108-131): 2xx/3xx/4xx+5xx →
# Processed / redirect re-inject / error, as case/when aggregation.
# ---------------------------------------------------------------------------
@q(
    "o11_status_routing",
    """
    SELECT CASE o_orderstatus WHEN 'O' THEN 'Discovered'
                              WHEN 'F' THEN 'Processed'
                              ELSE 'Disallowed' END AS status,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def o11_status_routing(spark, sf_dir):
    status = (
        F.when(F.col("o_orderstatus") == "O", "Discovered")
        .when(F.col("o_orderstatus") == "F", "Processed")
        .otherwise("Disallowed")
    )
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(status.alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# O14 — link extraction flatMap shape (HtmlParser.scala:36-48): explode a
# document into tokens, aggregate counts (the "emitted URLs per doc" path).
# ---------------------------------------------------------------------------
@q(
    "o14_token_explode",
    """
    SELECT word, count(*) AS n
    FROM (
      SELECT unnest(string_split(text, ' ')) AS word
      FROM documents WHERE doc_id < 100
    )
    WHERE word <> ''
    GROUP BY word HAVING count(*) >= 5
    """,
)
def o14_token_explode(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
    )


# ---------------------------------------------------------------------------
# O19 — restore scan: top-k by priority (SlickPageRepository.scala:58-61,
# ORDER BY crawl_priority DESC LIMIT k) with deterministic tiebreak.
# ---------------------------------------------------------------------------
@q(
    "o19_topk_restore_scan",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def o19_topk_restore_scan(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# O20 — metrics rollup (per-stage counters → per-window counts,
# metrics/FetcherMetrics.scala:130-145 analogue).
# ---------------------------------------------------------------------------
@q(
    "o20_metrics_rollup",
    """
    SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
           count(*) AS n,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
    FROM events GROUP BY 1, 2
    """,
)
def o20_metrics_rollup(spark, sf_dir):
    # hour as a canonical STRING on both sides: timestamp value-hash parity
    # across engines is formatting-dependent, strings are not
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("value_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings tables)
# ---------------------------------------------------------------------------
@q(
    "dedup_exact_documents",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc,
           count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_documents(spark, sf_dir):
    """Exact dedup by content hash (the training-pipeline analogue of the
    URL-seen exact path): hash-groupBy, keep canonical representative."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


@q(
    "text_quality_score",
    """
    SELECT doc_id,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
           length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    """Text quality signals (token count, punctuation count) as pure
    Catalyst expressions — integer outputs only (float ratios are computed
    downstream where hashing parity doesn't apply)."""
    t = F.col("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1).alias("n_tokens"),
        F.length(F.regexp_replace(t, r"[^.!?,;:]", "")).alias("n_punct"),
        F.length(t).alias("n_chars_actual"),
    )


@q(
    "lang_stopword_id",
    """
    SELECT doc_id, lang,
           CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5
                AS BIGINT) AS en_stopword_hits
    FROM documents
    """,
)
def lang_stopword_id(spark, sf_dir):
    """Language-ID heuristic signal: English stopword frequency via exact
    integer substring counting (n-gram heuristic building block)."""
    lt = F.lower(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        ((F.length(lt) - F.length(F.regexp_replace(lt, " the ", ""))) / 5)
        .cast("bigint")
        .alias("en_stopword_hits"),
    )


@q(
    "o2_url_normalize",
    """
    SELECT 'HTTPS://HOST-' || p_partkey || '.EXAMPLE:443/items/x/../' || p_partkey
           || '?k=v#frag' AS url_raw,
           'https://host-' || p_partkey || '.example/items/' || p_partkey
           || '?k=v' AS url_norm
    FROM part
    """,
)
def o2_url_normalize(spark, sf_dir):
    """O2 — RFC-3986 normalization (UrlNormalizationService.scala:21-79) as
    a vectorized pandas UDF, validated against an independently CONSTRUCTED
    expectation: the dirty inputs are built so their canonical form is
    computable by plain string ops in DuckDB (case-folded scheme+host,
    default port stripped, dot-segments removed, fragment dropped, query
    kept — reference defaults)."""
    from .config import CrawlConfig
    from .operators.udfs import make_normalize_udf

    normalize_udf = make_normalize_udf(CrawlConfig())
    raw = F.concat(
        F.lit("HTTPS://HOST-"), F.col("p_partkey").cast("string"),
        F.lit(".EXAMPLE:443/items/x/../"), F.col("p_partkey").cast("string"),
        F.lit("?k=v#frag"),
    )
    return _t(spark, sf_dir, "part").select(
        raw.alias("url_raw"), normalize_udf(raw).alias("url_norm")
    )


def simhash_fingerprint(spark, sf_dir):
    """Document fingerprinting via 64-bit SimHash — pure Catalyst: token
    explode → xxhash64 → per-bit ±1 vote (64 conditional sums, map-side
    combinable) → sign bits reassembled into one long.  Near-duplicate
    documents land within small Hamming distance.  No DuckDB oracle
    (xxhash64 is Spark-specific) → rows-only; semantics tested in
    tests/test_queries.py against a python reimplementation."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .select("doc_id", F.xxhash64("tok").alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << b).cast("long") if b < 63 else F.when(
            F.col("b63") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


QUERIES["simhash_fingerprint"] = simhash_fingerprint


# ---------------------------------------------------------------------------
# Banded-LSH near-dup pairs — one skeleton for every modality (word and
# char MinHash self-join, batch×corpus incremental MinHash, pHash):
#   keyed rows (bucket keys…, member) → _bucket_pairs → caller's
#   filter/projection → (MinHash only) _jaccard_confirm_arrays.
# The shape is the one of distributed set-similarity joins (LCJoin, ICDE
# 2019; Distributed Streaming Set Similarity Join, ICDE 2020): drop
# candidate groups by a cheap count first, enumerate pairs only inside
# the survivors, then run one exact confirm over the candidate docs.
# ---------------------------------------------------------------------------
def _bucket_pairs(keyed: DataFrame, cap: int) -> DataFrame:
    """``keyed`` (bucket keys…, member) — one row per member per bucket,
    the member last and orderable (an id, or a struct led by one) — →
    every in-bucket member pair (a, b) with a before b in sort order, from
    the buckets holding 2 ≤ size ≤ ``cap`` members.

    The size is a window count over the bucket keys, filtered BELOW the
    collect_list: a hot bucket (empty or boilerplate docs all hashing
    together) is counted in the window's spillable buffer and dropped —
    never collected into one array — and a surviving list holds ≤ ``cap``
    members, so a bucket yields ≤ cap²/2 pairs.  The window's shuffle on
    the keys also serves the aggregate: one exchange for count and
    collect.  Pairs are enumerated in-row over the sorted member list; a
    pair that shares several buckets comes back once per bucket, so
    callers take distinct."""
    *keys, member = keyed.columns
    ms = (
        keyed.withColumn("_ct", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .where((F.col("_ct") >= 2) & (F.col("_ct") <= cap))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(member)).alias("ms"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("ms") - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ms") - 1),
                lambda j: F.struct(
                    F.get("ms", i).alias("a"), F.get("ms", j).alias("b")
                ),
            ),
        )
    )
    return ms.select(F.explode(pair_arr).alias("p")).select("p.a", "p.b")


def _word_grams(docs: DataFrame):
    """Word 3-grams of (doc_id, text) docs as (projected docs, gram-index
    array Column, index → gram Column) — one definition feeding both the
    exploded signature rows and the per-doc confirm arrays."""
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    n = F.size("toks")
    idx = F.when(n >= 3, F.sequence(F.lit(0), n - 3)).otherwise(
        F.array().cast("array<int>")
    )

    def gram(i):
        return F.concat_ws(
            " ", F.get("toks", i), F.get("toks", i + 1), F.get("toks", i + 2)
        )

    return docs.select("doc_id", toks.alias("toks")), idx, gram


def _char_grams(docs: DataFrame, n: int):
    """Character n-grams, in the same (docs, index array, gram) form."""
    ln = F.length("text")
    idx = F.when(ln >= n, F.sequence(F.lit(1), ln - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return (
        docs.select("doc_id", "text"), idx,
        lambda i: F.col("text").substr(i, F.lit(n)),
    )


def _minhash_melted(
    docs: DataFrame, grams, perms: int, bands: int, salt: str
) -> DataFrame:
    """(doc_id, text) docs → banded MinHash signature melted to one
    (band, bucket, doc_id) row per doc per band: ``perms`` minhashes
    (xxhash64 with a per-permutation salt, min per doc) → ``bands`` ×
    (perms/bands) row groups, each hashed to a 64-bit bucket id.

    The grams are RAW — per-doc duplicates kept, as min is insensitive to
    them — so the gram strings never shuffle; the only exchange is the
    groupBy(min), whose partial aggregation ships ``perms`` longs per doc
    per partition.  The int index array is exploded and the gram built
    above the Generate (building the string array under the explode
    measured ~2× slower at sf1.0), and the permutation hashes are flat
    codegen'd projections (a transform() with xxhash64 inside is
    interpreted per element — ~40× slower at sf1.0)."""
    # spread the corpus before the hash-heavy signature pipeline: the
    # driver-generated parquet has 1-2 row groups, so without this the
    # explode + 8-permutation hashing runs on ≤2 of the session's cores
    # (a row group is the parquet split unit).  The shuffle moves only the
    # few-MB text column; partition count follows the session parallelism,
    # not a local constant.
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    d, idx, gram = grams(spread)
    raw = d.select("*", F.explode(idx).alias("_i")).select(
        "doc_id", gram(F.col("_i")).alias("shingle")
    )
    rows_per_band = perms // bands
    hashes = raw.select(
        "doc_id",
        *[
            F.xxhash64(F.concat(F.lit(f"{salt}{i}|"), F.col("shingle"))).alias(f"h{i}")
            for i in range(perms)
        ],
    )
    sig = hashes.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(perms)]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    "|", F.lit(b),
                    *[F.col(f"m{rows_per_band * b + r}") for r in range(rows_per_band)],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("bb.band", "bb.bucket", "doc_id")


def _jaccard_confirm_arrays(
    docs: DataFrame, grams, pairs: DataFrame
) -> DataFrame:
    """Exact set-Jaccard (integer milli) of candidate (doc_a, doc_b) pairs,
    duplicates allowed: semi-join the corpus down to candidate docs FIRST
    (the tiny pair-doc set broadcast into the docs scan — the full corpus
    is only filtered, never gram'd here), then join each pair to its two
    per-doc DISTINCT gram arrays and count the intersection in-row."""
    # pairs feeds three downstream subtrees (candidate-doc semi-join + two
    # broadcast joins); an eager localCheckpoint evaluates the candidate
    # pipeline ONCE instead of once per subtree (the tiny pair table is
    # all that is pinned)
    pairs = pairs.distinct().localCheckpoint(eager=True)
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    d, idx, gram = grams(docs.join(F.broadcast(cand_docs), "doc_id", "semi"))
    cand_arr = d.select(
        "doc_id", F.array_distinct(F.transform(idx, gram)).alias("shingles")
    )
    sa = cand_arr.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = cand_arr.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    inter_ct = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        sa.join(F.broadcast(pairs), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.lit(1000) * inter_ct
                / (F.size("sh_a") + F.size("sh_b") - inter_ct)
            ).cast("long").alias("jaccard_milli"),
        )
    )


def _lsh_jaccard_pairs(
    docs: DataFrame, grams, perms: int, bands: int, cap: int, salt: str
) -> DataFrame:
    """MinHash self-join: (doc_id, text) docs → (doc_a < doc_b,
    jaccard_milli) for every doc pair sharing a band bucket of ≤ ``cap``
    members — signature (_minhash_melted) → bucket pairs (_bucket_pairs)
    → exact confirm (_jaccard_confirm_arrays), all Catalyst built-ins.
    100-TB shape: no all-pairs product; full-corpus text is scanned twice
    (signatures + confirm filter) and shuffled only by the spread."""
    pairs = _bucket_pairs(
        _minhash_melted(docs, grams, perms, bands, salt), cap
    ).select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    return _jaccard_confirm_arrays(docs, grams, pairs)


def minhash_lsh_candidates(spark, sf_dir):
    """Near-duplicate pairs via word-3-gram MinHash + LSH banding +
    exact-Jaccard confirm (``_lsh_jaccard_pairs``).

    Oracle: constructed fixture — same algorithm run by an independent
    pure-python mirror (oracle_fixtures.build_minhash) on sf0.01, using the
    spec-implemented XXH64 that is bit-verified against F.xxhash64.
    """
    from .oracle_fixtures import MINHASH_BANDS, MINHASH_BUCKET_CAP, MINHASH_PERMS

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _lsh_jaccard_pairs(
        docs, _word_grams, MINHASH_PERMS, MINHASH_BANDS, MINHASH_BUCKET_CAP, "p"
    )


QUERIES["minhash_lsh_candidates"] = minhash_lsh_candidates


def ngram_jaccard_pairs(spark, sf_dir):
    """Char-n-gram Jaccard near-duplicate pairs: the deduplication modality
    that catches what WORD tokenization misses (in-word edits, punctuation
    and whitespace churn, markup noise) — character 4-gram shingles through
    the same banded-LSH + bucket-cap + exact-confirm skeleton as the word
    MinHash, keeping only pairs at exact char-gram Jaccard ≥ threshold.

    Oracle: constructed fixture — independent pure-python mirror
    (oracle_fixtures.build_ngram_jaccard) on sf0.01.
    """
    from .oracle_fixtures import (
        NGJ_BANDS,
        NGJ_BUCKET_CAP,
        NGJ_N,
        NGJ_PERMS,
        NGJ_THRESHOLD_MILLI,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _lsh_jaccard_pairs(
        docs, lambda d: _char_grams(d, NGJ_N),
        NGJ_PERMS, NGJ_BANDS, NGJ_BUCKET_CAP, "q"
    ).where(F.col("jaccard_milli") >= NGJ_THRESHOLD_MILLI)


QUERIES["ngram_jaccard_pairs"] = ngram_jaccard_pairs


def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search over the embedding column
    (array<float>) — JVM-side higher-order functions (zip_with + aggregate),
    no UDF.  Query vector = the lexicographically-first row's embedding.

    Float reduction parity with DuckDB is not guaranteed (summation dtype/
    order), so this is a rows-only entry; numeric correctness is covered by
    tests/test_queries.py against numpy.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # one job instead of two (min + fetch): the lexicographically-first row
    first = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    first_id, q_lit = first[0], F.lit(first[1])

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    e = F.col("embedding")
    cos = dot(e, q_lit) / (F.sqrt(dot(e, e)) * F.sqrt(dot(q_lit, q_lit)))
    return (
        # spread before the per-row cosine: the higher-order zip_with/
        # aggregate evaluates interpreted, and the single-row-group input
        # would otherwise run it on one core (row values are per-row, so
        # repartitioning cannot change any result)
        emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
        .where(F.col("vec_id") != first_id)
        .select("vec_id", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(20)
    )


QUERIES["embedding_cosine_topk"] = embedding_cosine_topk


def embedding_ann_lsh(spark, sf_dir, n_planes: int = 8, topk: int = 20):
    """ANN scale path: random-hyperplane LSH bucketing.  Each vector gets an
    n_planes-bit signature (sign of dot product with deterministic
    pseudo-random hyperplanes derived from xxhash64 — no RNG state, any
    executor can regenerate them); candidate set = vectors whose signature
    is within Hamming distance 1 of the query's (multi-probe), re-ranked by
    exact cosine.  At 10^10 rows the bucket join replaces the full scan:
    cost ~ (n+q)/2^bits per probe instead of n·q.  Rows-only entry (float
    cosine + Spark-specific hashing); recall vs brute force is asserted in
    tests/test_queries.py."""
    import numpy as np

    from .kernels.hashing import xxhash64_str

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])

    # deterministic hyperplanes: unit-free ±-ish weights from xxhash64
    planes = np.array(
        [
            [
                (xxhash64_str(f"plane|{p}|{d}") / 2**63)
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
    )
    plane_lits = [F.array(*[F.lit(float(w)) for w in row]) for row in planes]

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    sig = None
    e = F.col("embedding")
    for p, pl in enumerate(plane_lits):
        bit = F.when(dot(e, pl) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    signed = emb.withColumn("sig", sig.cast("int"))

    first_id = emb.agg(F.min("vec_id")).collect()[0][0]
    qrow = signed.where(F.col("vec_id") == first_id).select("embedding", "sig").collect()[0]
    q_lit, q_sig = F.lit(qrow[0]), int(qrow[1])
    probe_sigs = [q_sig] + [q_sig ^ (1 << p) for p in range(n_planes)]

    cand = signed.where(
        F.col("sig").isin(*probe_sigs) & (F.col("vec_id") != first_id)
    )
    cos = dot(e, q_lit) / (F.sqrt(dot(e, e)) * F.sqrt(dot(q_lit, q_lit)))
    return (
        cand.select("vec_id", F.round(cos, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(topk)
    )


QUERIES["embedding_ann_lsh"] = embedding_ann_lsh


def crawl_t1_micro(spark, sf_dir):
    """The full crawl round loop on the deterministic t1-micro fixture —
    the flagship end-to-end pipeline (all operators O1-O19 composed).

    Oracle: constructed fixture — the pure-Python ABWCF simulator
    (testing/oracle.py, line-cited to /root/reference) run on the same
    corpus, its final frontier written as parquet
    (oracle_fixtures.build_crawl_t1_micro).  Nullable lineage ints are
    coalesced to -1 on both sides (cross-engine null-int hash parity).
    The larger fixtures (multi-host, skew, SIGKILL-resume) are exercised in
    tests/test_crawl_e2e.py / test_resume.py.
    """
    from .engine.crawler import SparkCrawler
    from .testing.corpus import T1_MICRO, gen_corpus
    from .testing.spark_fixtures import corpus_to_spark

    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    crawler = SparkCrawler(spark, sdfs["corpus"], sdfs["robots"])
    res = crawler.run(seeds=sdfs["seeds"])
    return res.frontier.select(
        "url", "url_hash", "host", "status", "crawl_depth", "crawl_priority",
        "discovered_round",
        F.coalesce(F.col("fetched_round"), F.lit(-1)).cast("int").alias("fetched_round"),
        F.coalesce(F.col("fetch_order"), F.lit(-1).cast("long")).alias("fetch_order"),
    )


QUERIES["crawl_t1_micro"] = crawl_t1_micro


def o20_metrics_table(spark, sf_dir):
    """O20 — the durable per-(round, stage) metrics table: the engine
    appends one row per pipeline stage per round at commit time
    (passed/rejected/wall), the queryable analogue of the reference's
    per-stage OTel counters (metrics/FilterMetrics.scala:176-182
    passed/rejected, FetcherMetrics.scala:130-145 fetch counters).  Runs
    the t1-micro crawl and returns the table's deterministic columns.

    Oracle: constructed fixture — the pure-python ABWCF simulator's
    per-round counts mapped through an INDEPENDENT long-format shaping
    (the COUNTS and the shaping both come from the mirror side:
    oracle_fixtures.build_metrics_table).

    use_bloom=False here: the ``cache_bloom_probe`` stage's counts include
    bloom false positives — a property of the engine's probabilistic
    URL-seen store that the python simulator (exact by design) cannot
    mirror without replaying the engine's own bloom kernel (which would be
    a self-reference).  The bloom cache stage is exercised and
    invariant-checked in tests/test_metrics_gauges.py instead.
    """
    from .engine.crawler import SparkCrawler
    from .testing.corpus import T1_MICRO, gen_corpus
    from .testing.spark_fixtures import corpus_to_spark

    tables = gen_corpus(T1_MICRO)
    sdfs = corpus_to_spark(spark, tables)
    # no checkpoint_dir → work_dir is a fresh mkdtemp; the metrics table is
    # written there per round and read back lazily (files persist)
    crawler = SparkCrawler(
        spark, sdfs["corpus"], sdfs["robots"], use_bloom=False,
    )
    crawler.run(seeds=sdfs["seeds"])
    return crawler.metrics_table().select("round", "stage", "passed", "rejected")


QUERIES["o20_metrics_table"] = o20_metrics_table


# ---------------------------------------------------------------------------
# Constructed-oracle registration (oracle_fixtures.py): expected results
# precomputed by independent pure-python mirrors → parquet → DuckDB SELECT *.
# ---------------------------------------------------------------------------
from .oracle_fixtures import ensure_fixtures as _ensure_fixtures  # noqa: E402
from .oracle_fixtures import fixture_sql as _fx  # noqa: E402

_ensure_fixtures()
for _name in (
    "simhash_fingerprint",
    "minhash_lsh_candidates",
    "embedding_cosine_topk",
    "embedding_ann_lsh",
    "crawl_t1_micro",
    "o20_metrics_table",
    "ngram_jaccard_pairs",
):
    ORACLE[_name] = _fx(_name)


# ---------------------------------------------------------------------------
# O4 — bloom-filter URL-seen probe (UrlDeduplicator.scala:36-50 approximate
# dedup re-expressed; kernels/bloom.py).  The bloom is built from the part
# keys divisible by 3; every key is probed through the SAME pandas UDF the
# crawl engine uses.  Negative = provably never inserted; positive = maybe
# (true member or ~1% fpp).  Oracle: fixture from the identical pure-python
# bloom + spec-XXH64 (bit-verified vs F.xxhash64).
# ---------------------------------------------------------------------------
@q("o4_bloom_probe", _fx("o4_bloom_probe"))
def o4_bloom_probe(spark, sf_dir):
    import pyarrow.parquet as pq

    from .kernels.bloom import BloomFilter
    from .kernels.hashing import xxhash64_str
    from .operators.udfs import make_bloom_probe_udf

    keys = pq.read_table(f"{sf_dir}/part.parquet", columns=["p_partkey"])
    keys = [int(k) for k in keys.column(0).to_pylist()]
    member = [k for k in keys if k % 3 == 0]
    bf = BloomFilter.for_capacity(max(len(member), 1024), 0.01)
    import numpy as np

    bf.add_hashes(np.array(
        [xxhash64_str(f"https://bloom-{k}.example/x") for k in member],
        dtype=np.int64,
    ))
    probe, _bc = make_bloom_probe_udf(spark, bf)
    url = F.concat(F.lit("https://bloom-"), F.col("p_partkey").cast("string"),
                   F.lit(".example/x"))
    return (
        _t(spark, sf_dir, "part")
        .select(url.alias("url"))
        .select("url", probe(F.xxhash64("url")).alias("maybe_seen"))
    )


# ---------------------------------------------------------------------------
# O4b — cuckoo-filter URL-seen probe (the north rule's "bloom/cuckoo-filter
# URL-seen set": kernels/cuckoo.py, Fan et al. CoNEXT'14; selectable in the
# engine via SparkCrawler(seen_filter="cuckoo")).  Same broadcast-probe
# plumbing as o4_bloom_probe, but the filter exercises DELETION — keys %3==0
# inserted, then %9==0 removed — which the bloom cannot do: the probe result
# reflects the removals.  Inserts run in sorted key order on both sides
# (cuckoo eviction chains make the table order-sensitive).
# ---------------------------------------------------------------------------
@q("o4_cuckoo_probe", _fx("o4_cuckoo_probe"))
def o4_cuckoo_probe(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    from .kernels.cuckoo import CuckooFilter
    from .kernels.hashing import xxhash64_str
    from .operators.udfs import make_cuckoo_probe_udf

    keys = pq.read_table(f"{sf_dir}/part.parquet", columns=["p_partkey"])
    keys = sorted(int(k) for k in keys.column(0).to_pylist() if int(k) % 3 == 0)
    cf = CuckooFilter.for_capacity(max(len(keys), 1024))
    cf.add_hashes(np.array(
        [xxhash64_str(f"https://cuckoo-{k}.example/x") for k in keys],
        dtype=np.int64,
    ))
    gone = [k for k in keys if k % 9 == 0]
    cf.remove_hashes(np.array(
        [xxhash64_str(f"https://cuckoo-{k}.example/x") for k in gone],
        dtype=np.int64,
    ))
    probe, _bc = make_cuckoo_probe_udf(spark, cf)
    url = F.concat(F.lit("https://cuckoo-"), F.col("p_partkey").cast("string"),
                   F.lit(".example/x"))
    return (
        _t(spark, sf_dir, "part")
        .select(url.alias("url"))
        .select("url", probe(F.xxhash64("url")).alias("maybe_seen"))
    )


# ---------------------------------------------------------------------------
# O15 — fetch-result consumer / payload validation (FetchResultConsumer.
# scala:34-50, UserCode.scala:68-69): decode + PSNR/phash/caption checks over
# a deterministically CORRUPTED image corpus (~20% truncated bytes or
# tampered captions), via the exact mapInPandas kernel the crawl loop runs.
# Oracle: fixture from an INDEPENDENT pure-python decoder mirror
# (oracle_fixtures.mirror_decode — separate PNG/ABWL unfilter + exact-
# integer PSNR/Fraction a-hash), so the gate checks the kernel's
# decode/validate semantics, not just the distributed Arrow plumbing.
# ---------------------------------------------------------------------------
@q("o15_payload_validate", _fx("o15_payload_validate"))
def o15_payload_validate(spark, sf_dir):
    import pandas as pd

    from .operators.udfs import PAYLOAD_CHECK_SCHEMA, validate_payload_batches
    from .oracle_fixtures import o15_corpus

    pdf = o15_corpus()[["url", "bytes", "image_id", "w", "h", "fmt", "caption", "phash"]]
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    sdf = spark.createDataFrame(
        pdf.to_dict("records"),
        "url string, bytes binary, image_id string, w int, h int, fmt string, "
        "caption string, phash long",
    )
    return sdf.repartition(8).mapInPandas(validate_payload_batches, PAYLOAD_CHECK_SCHEMA)


def embedding_ann_batch(spark, sf_dir):
    """ANN over a query TABLE (the batch path the verdict asked for — no
    per-query driver .collect()): every vector gets an 8-bit random-
    hyperplane signature; the 20 lowest-vec_id rows act as queries; the
    candidate set is a single signature-equality JOIN against the exploded
    multi-probe signatures (Hamming ≤ 1) of all queries at once; exact
    cosine re-rank per query via a per-q_id window.

    100-TB shape: cost = one broadcast of (queries × 9 probes) into the
    signature scan + a per-query top-k window — no all-pairs product, no
    driver loop.  Oracle: constructed fixture (oracle_fixtures.
    build_ann_batch) mirroring fold order and HALF_UP rounding.
    """
    from .oracle_fixtures import ANN_BATCH_QUERIES, ANN_BATCH_TOPK, ANN_PLANES
    from .kernels.hashing import xxhash64_str

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    planes = [
        F.array(*[
            F.lit(float(xxhash64_str(f"plane|{p}|{d}") / 2**63)) for d in range(dim)
        ])
        for p in range(ANN_PLANES)
    ]

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    e = F.col("embedding")
    sig = None
    for p, pl in enumerate(planes):
        bit = F.when(dot(e, pl) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    signed = emb.select("vec_id", "embedding", sig.cast("int").alias("sig"))

    qrows = signed.orderBy("vec_id").limit(ANN_BATCH_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sig").alias("q_sig"),
    )
    probes = qrows.select(
        "q_id", "q_emb",
        F.explode(
            F.array(F.col("q_sig"),
                    *[F.col("q_sig").bitwiseXOR(F.lit(1 << p))
                      for p in range(ANN_PLANES)])
        ).alias("sig"),
    )
    cand = signed.join(F.broadcast(probes), "sig").where(
        F.col("vec_id") != F.col("q_id")
    )
    q = F.col("q_emb")
    cos = dot(e, q) / (F.sqrt(dot(e, e)) * F.sqrt(dot(q, q)))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.select("q_id", "vec_id", F.round(cos, 4).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_BATCH_TOPK)
    )


QUERIES["embedding_ann_batch"] = embedding_ann_batch
ORACLE["embedding_ann_batch"] = _fx("embedding_ann_batch")


# ---------------------------------------------------------------------------
# O1 — seed injection shape (Crawler.scala:156-159 / SparkCrawler.seed):
# seed list position becomes the deterministic discovery sequence, depth 0.
# ---------------------------------------------------------------------------
@q(
    "o1_seed_intake",
    """
    SELECT 'https://h' || c_custkey || '.example/p/0' AS url,
           0 AS crawl_depth, CAST(c_custkey AS BIGINT) AS seq
    FROM customer
    """,
)
def o1_seed_intake(spark, sf_dir):
    url = F.concat(F.lit("https://h"), F.col("c_custkey").cast("string"),
                   F.lit(".example/p/0"))
    return _t(spark, sf_dir, "customer").select(
        url.alias("url"),
        F.lit(0).cast("int").alias("crawl_depth"),
        F.col("c_custkey").cast("long").alias("seq"),
    )


# ---------------------------------------------------------------------------
# O6 — deterministic prioritizers (PrioritizationFunctions.scala:11-24,
# plug-point UserCode.scala:34-35): breadthFirst = -depth, depthFirst =
# +depth (the xxhash64 default is gate-checked via the crawl fixture).
# ---------------------------------------------------------------------------
@q(
    "o6_prioritizers",
    """
    SELECT o_orderkey, CAST(-(o_orderkey % 12) AS BIGINT) AS prio_breadth,
           CAST(o_orderkey % 12 AS BIGINT) AS prio_depth
    FROM orders
    """,
)
def o6_prioritizers(spark, sf_dir):
    depth = F.col("o_orderkey") % 12
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (-depth).cast("long").alias("prio_breadth"),
        depth.cast("long").alias("prio_depth"),
    )


# ---------------------------------------------------------------------------
# O12 — crawl-depth limit (CrawlDepthLimiter.scala:22-28): the gate cuts
# link EXPANSION (depth < max), never fetching.
# ---------------------------------------------------------------------------
@q(
    "o12_depth_gate",
    """
    SELECT o_orderkey, CAST(o_orderkey % 16 AS INT) AS crawl_depth
    FROM orders WHERE (o_orderkey % 16) < 8
    """,
)
def o12_depth_gate(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", (F.col("o_orderkey") % 16).cast("int").alias("crawl_depth"))
        .where(F.col("crawl_depth") < 8)
    )


# ---------------------------------------------------------------------------
# O13 — X-Robots-Tag nofollow gate (RobotsHeaderFilter.scala:24-38): comma-
# split, trimmed, case-insensitive token test via the ENGINE's Catalyst
# higher-order predicate (_nofollow_col), null tag → follow.
# ---------------------------------------------------------------------------
@q(
    "o13_nofollow_filter",
    """
    SELECT p_partkey, NOT coalesce(
        len(list_filter(string_split(tag, ','),
                        x -> lower(trim(x)) = 'nofollow')) > 0, false) AS follow
    FROM (
      SELECT p_partkey, CASE CAST(p_partkey % 4 AS INT)
        WHEN 1 THEN 'noindex' WHEN 2 THEN 'noindex, nofollow'
        WHEN 3 THEN ' NOFOLLOW ' END AS tag
      FROM part
    )
    """,
)
def o13_nofollow_filter(spark, sf_dir):
    from .operators.round_ops import _nofollow_col

    tag = (
        F.when(F.col("p_partkey") % 4 == 1, "noindex")
        .when(F.col("p_partkey") % 4 == 2, "noindex, nofollow")
        .when(F.col("p_partkey") % 4 == 3, " NOFOLLOW ")
    )
    return _t(spark, sf_dir, "part").select(
        "p_partkey", (~_nofollow_col(tag)).alias("follow")
    )


# ---------------------------------------------------------------------------
# O16 — robots.txt parse + rule compile (RobotsFetcher.scala:56-138,
# HostManager.scala:110-167, SlickHostRepository.scala:43-57): constructed
# bodies whose serialized rules (longest-prefix-first, allow-before-disallow
# on ties — RFC 9309 §2.2.2) and clamped crawl-delay ([0s, 20s],
# reference.conf:211-219) are computable by DuckDB string ops.  Runs the
# ENGINE's host_outcome pandas UDF.
# ---------------------------------------------------------------------------
@q(
    "o16_robots_parse",
    """
    SELECT p_partkey, 'ALLOW_SOME' AS rule_mode,
           'allow: /d' || p_partkey || '/ok' || chr(10) ||
           'disallow: /d' || p_partkey || '/' AS robot_rules,
           CAST(least((p_partkey % 30) * 1000, 20000) AS BIGINT) AS crawl_delay
    FROM part
    """,
)
def o16_robots_parse(spark, sf_dir):
    from .config import CrawlConfig
    from .operators.udfs import make_host_outcome_udf

    udf = make_host_outcome_udf(CrawlConfig())
    k = F.col("p_partkey").cast("string")
    body = F.concat(
        F.lit("User-agent: *\n"),
        F.lit("Disallow: /d"), k, F.lit("/\n"),
        F.lit("Allow: /d"), k, F.lit("/ok\n"),
        F.lit("Crawl-delay: "), (F.col("p_partkey") % 30).cast("string"),
    )
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", udf(F.lit("ok"), body).alias("_h"))
        .select(
            "p_partkey",
            F.col("_h.rule_mode").alias("rule_mode"),
            F.col("_h.robot_rules").alias("robot_rules"),
            F.col("_h.crawl_delay").alias("crawl_delay"),
        )
    )


# ---------------------------------------------------------------------------
# O17 — host TTL refresh selection (HostManager.scala:187-189, lifetimes
# reference.conf:224-230): expired rows (valid_until <= now) are selected
# for refetch and get a 24 h validity bump — the engine's per-round
# hosts_valid predicate as SQL.
# ---------------------------------------------------------------------------
@q(
    "o17_ttl_refresh",
    """
    SELECT s_suppkey, valid_until <= 5000 AS needs_refresh,
           CAST(CASE WHEN valid_until <= 5000 THEN 5000 + 86400000
                     ELSE valid_until END AS BIGINT) AS valid_until_next
    FROM (SELECT s_suppkey, (s_suppkey % 10) * 1000 AS valid_until FROM supplier)
    """,
)
def o17_ttl_refresh(spark, sf_dir):
    now_ms = 5000
    vu = ((F.col("s_suppkey") % 10) * 1000).alias("valid_until")
    base = _t(spark, sf_dir, "supplier").select("s_suppkey", vu)
    needs = F.col("valid_until") <= F.lit(now_ms)
    return base.select(
        "s_suppkey",
        needs.alias("needs_refresh"),
        F.when(needs, F.lit(now_ms + 86_400_000))
        .otherwise(F.col("valid_until"))
        .cast("long")
        .alias("valid_until_next"),
    )


# ---------------------------------------------------------------------------
# O18 — status merge, MERGE-ON-READ reconcile shape (SlickPageRepository.
# scala:39 batched row-level UPDATE, Batcher.scala:37-61; engine:
# SparkCrawler._reconciled_frontier — the commit path the round loop actually
# runs since the MoR rewrite): insert-time rows anti-joined against the
# bounded update-url set (broadcast → the big side stays a SCAN), unioned
# with the terminal update rows.  Latest-wins with ≤2 versions per key.
# The legacy copy-on-write kernel (round_ops.merge_fetch_statuses) is kept
# as a reference-only building block and is no longer what this entry
# certifies.
# ---------------------------------------------------------------------------
@q(
    "o18_status_merge",
    """
    SELECT f.o_orderkey, f.status,
           CAST(-1 AS INT) AS fetched_round,
           CAST(-1 AS BIGINT) AS fetch_order
    FROM (
      SELECT o_orderkey, CASE o_orderstatus WHEN 'O' THEN 'Discovered'
             WHEN 'F' THEN 'Processed' ELSE 'Disallowed' END AS status
      FROM orders
    ) f
    WHERE f.o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0)
    UNION ALL
    SELECT o_orderkey, 'Processed' AS status,
           CAST(3 AS INT) AS fetched_round,
           CAST(o_orderkey * 10 AS BIGINT) AS fetch_order
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def o18_status_merge(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    data = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", "Discovered")
        .when(F.col("o_orderstatus") == "F", "Processed")
        .otherwise("Disallowed")
        .alias("status"),
    )
    upd = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("Processed").alias("status"),
        F.lit(3).cast("int").alias("fetched_round"),
        (F.col("o_orderkey") * 10).cast("long").alias("fetch_order"),
    )
    return (
        data.join(F.broadcast(upd.select("o_orderkey")), "o_orderkey", "left_anti")
        .select(
            "o_orderkey", "status",
            F.lit(-1).cast("int").alias("fetched_round"),
            F.lit(-1).cast("long").alias("fetch_order"),
        )
        .unionByName(upd)
    )


# ---------------------------------------------------------------------------
# Document fingerprinting via WINNOWING (Schleimer/Wilkerson/Aiken's public
# winnowing scheme): xxhash64 over sliding char 8-grams, keep the minimum of
# every 4-hash window, distinct per doc.  Near-duplicate documents share
# fingerprints even under local edits.  Round-6 shape: codegen'd gram
# hashes over an int-position explode + a per-doc ordered window for the
# sliding minima (ONE keyed shuffle of (doc_id, pos, hash) rows — see
# _winnow_positions).  Oracle: constructed fixture
# (oracle_fixtures.build_winnow).
# ---------------------------------------------------------------------------
def doc_fingerprint_winnow(spark, sf_dir):
    from .oracle_fixtures import WINNOW_K, WINNOW_W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        _winnow_positions(docs, WINNOW_K, WINNOW_W)
        .select("doc_id", "fingerprint")
        .distinct()
    )


def _winnow_positions(docs: DataFrame, k: int, w_len: int) -> DataFrame:
    """(doc_id, j, fingerprint): positional winnowing window minima.

    Round-6 shape: gram positions explode as cheap INTs with the gram
    hash a flat codegen'd projection ABOVE the Generate (the old per-row
    ``transform(xxhash64(substr(...)))`` array evaluated interpreted per
    element — the same ~40× HOF pathology measured on the MinHash
    signatures — and putting ``array_distinct``/window-min array
    expressions under an explode re-evaluates them per OUTPUT row).  The
    sliding w-window minimum is a per-doc ordered window (one keyed
    shuffle of (doc_id, pos, hash) rows); the gram count derives from
    length(text), and trailing truncated frames are filtered exactly like
    the old slice bound.  Output rows identical to the old
    posexplode-of-array form (same hashes, same minima, same positions);
    sf1.0 winnow entry: 47 s → 18 s at 32 cores."""
    d = (
        docs.where(F.length("text") >= k + w_len - 1)
        .select(
            "doc_id",
            "text",
            (F.length("text") - (k - 1)).alias("_n"),
            F.explode(F.expr(f"sequence(0, length(text) - {k})")).alias("_i"),
        )
        .select(
            "doc_id",
            "_n",
            "_i",
            F.xxhash64(F.expr(f"substr(text, _i + 1, {k})")).alias("_g"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("_i")
        .rowsBetween(Window.currentRow, w_len - 1)
    )
    return (
        d.withColumn("_m", F.min("_g").over(w))
        .where(F.col("_i") <= F.col("_n") - w_len)
        .select("doc_id", F.col("_i").alias("j"), F.col("_m").alias("fingerprint"))
    )


QUERIES["doc_fingerprint_winnow"] = doc_fingerprint_winnow
ORACLE["doc_fingerprint_winnow"] = _fx("doc_fingerprint_winnow")


# ---------------------------------------------------------------------------
# Passage/substring-level dedup (the training-data gap doc-level dedup
# leaves open): extract the repeated SPANS — boilerplate, licenses,
# templated paragraphs — that cross-document near-dup scoring misses when
# the documents as a whole sit below the Jaccard threshold.  Builds on the
# winnowing fingerprints above, kept WITH their window positions:
#   1. posexplode window minima → (doc_id, j, fingerprint);
#   2. a fingerprint is SHARED if >= 2 distinct docs contain it (one
#      groupBy count — per-fingerprint aggregation, NOT a pair join);
#   3. per doc, merge the char intervals [j, j+W+K-2] of its shared-
#      fingerprint windows (sort_array + a Catalyst `aggregate` fold —
#      per-row array work, no UDF) and emit merged spans >= SPAN_MIN_LEN.
# 100-TB shape: two keyed shuffles (fingerprint agg, doc_id agg) and one
# equi-join on fingerprint; there is NO doc×doc product anywhere — span
# extraction only needs the per-fingerprint "shared" boolean, so the cost
# is linear in corpus size (plan-pinned in tests/test_plans.py).  Oracle:
# constructed fixture (oracle_fixtures.mirror_dup_spans), also exercised
# on constructed overlapping-boilerplate docs in tests/test_queries_text.py.
# ---------------------------------------------------------------------------
def dup_spans(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """(doc_id, text) → (doc_id, span_start, span_len) repeated-span list.

    ``min_df``: a fingerprint counts as shared when >= min_df distinct
    docs contain it.  2 = the pair-level definition (any cross-doc
    repetition); higher values isolate TRUE boilerplate — text shared by
    a meaningful fraction of the corpus (the strip entries use
    SPAN_BOILER_DF so heavily-templated corpora keep their unique
    content)."""
    from .oracle_fixtures import SPAN_MIN_LEN, WINNOW_K, WINNOW_W

    L = WINNOW_W + WINNOW_K - 2  # window at gram j covers chars [j, j+L]
    # shared positional-winnowing skeleton (codegen'd gram hashes + per-doc
    # ordered window — see _winnow_positions for the round-6 plan notes)
    pos = _winnow_positions(docs, WINNOW_K, WINNOW_W)
    shared = (
        pos.select("doc_id", "fingerprint")
        .distinct()
        .groupBy("fingerprint")
        .count()
        .where(F.col("count") >= min_df)
        .select("fingerprint")
    )
    merge = (
        "aggregate(js, CAST(array() AS array<struct<s: bigint, e: bigint>>), "
        "(acc, j) -> IF(size(acc) > 0 AND j <= element_at(acc, -1).e + 1, "
        "concat(slice(acc, 1, size(acc) - 1), "
        f"array(named_struct('s', element_at(acc, -1).s, "
        f"'e', CAST(j + {L} AS BIGINT)))), "
        f"concat(acc, array(named_struct('s', CAST(j AS BIGINT), "
        f"'e', CAST(j + {L} AS BIGINT))))))"
    )
    return (
        pos.join(shared, "fingerprint")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("j")).alias("js"))
        .select("doc_id", F.explode(F.expr(merge)).alias("sp"))
        .select(
            "doc_id",
            F.col("sp.s").alias("span_start"),
            (F.col("sp.e") - F.col("sp.s") + 1).alias("span_len"),
        )
        .where(F.col("span_len") >= SPAN_MIN_LEN)
    )


@q("dup_span_extract", _fx("dup_span_extract"))
def dup_span_extract(spark, sf_dir):
    return dup_spans(_t(spark, sf_dir, "documents").select("doc_id", "text"))


# ---------------------------------------------------------------------------
# Passage dedup part 2 — SPAN STRIPPING: produce the cleaned corpus with the
# repeated spans removed (what a training-data pipeline actually feeds the
# tokenizer).  The span lists from dup_spans are already merged, disjoint
# and sorted, so the cut is one per-row Catalyst `aggregate` fold that
# walks the spans copying the gaps — no UDF, no extra shuffle beyond the
# dup_spans aggregation and one keyed join back to the docs.  Docs with no
# shared spans pass through verbatim (left join).  Oracle: constructed
# fixture (oracle_fixtures.build_dup_span_strip — python slicing over the
# mirror's own span list).
# ---------------------------------------------------------------------------
def dup_span_strip(docs: DataFrame, min_df: int = 2) -> DataFrame:
    spans = dup_spans(docs, min_df=min_df)
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_len"))
        ).alias("_spans"),
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum("span_len").cast("long").alias("removed_chars"),
    )
    cut = (
        "aggregate(_spans, "
        "named_struct('acc', CAST('' AS STRING), 'pos', CAST(0 AS BIGINT)), "
        "(a, sp) -> named_struct("
        "'acc', concat(a.acc, substr(text, CAST(a.pos + 1 AS INT), "
        "CAST(sp.span_start - a.pos AS INT))), "
        "'pos', sp.span_start + sp.span_len), "
        "a -> concat(a.acc, substr(text, CAST(a.pos + 1 AS INT), "
        "length(text))))"
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_spans").isNotNull(), F.expr(cut))
            .otherwise(F.col("text"))
            .alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("removed_chars"), F.lit(0).cast("long"))
            .alias("removed_chars"),
        )
    )


@q("dup_span_strip", _fx("dup_span_strip"))
def dup_span_strip_entry(spark, sf_dir):
    # strip at the BOILERPLATE document-frequency gate (shared by >=10%
    # of the corpus), not the pair-level min_df=2 the extractor entry
    # certifies: the synthetic corpus is heavily templated, and min_df=2
    # would strip essentially all text — real pipelines cut the license/
    # template spans and keep the unique content
    from .oracle_fixtures import SPAN_BOILER_DF

    return dup_span_strip(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        min_df=SPAN_BOILER_DF,
    )


# ---------------------------------------------------------------------------
# COMPOSITE training-data pipeline — the stages a user actually chains,
# certified end-to-end as ONE plan: strip repeated cross-document spans
# (boilerplate removal) → token-count the CLEANED text → quality gate →
# deterministic stratified sample.  Each stage is an already-gated
# operator; this entry certifies their COMPOSITION (the strip feeds the
# gate that feeds the sample, all inside one Catalyst plan — no
# materialization boundaries).  100-TB shape: the only shuffles are the
# span extractor's two keyed aggregations + the label join; token count,
# gate and sample are scan-stage expressions over the fold's output.
# Oracle: constructed fixture chaining the independent python mirrors
# (oracle_fixtures.build_training_pipeline).
# ---------------------------------------------------------------------------
@q("training_pipeline_sample", _fx("training_pipeline_sample"))
def training_pipeline_sample(spark, sf_dir):
    from .oracle_fixtures import SPAN_BOILER_DF

    docs = _t(spark, sf_dir, "documents")
    cleaned = dup_span_strip(docs.select("doc_id", "text"),
                             min_df=SPAN_BOILER_DF)
    n_tokens = (
        F.length("clean_text")
        - F.length(F.regexp_replace("clean_text", " ", ""))
        + 1
    ).cast("long")
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":pipe"))), 1, 2
    )
    thresh = F.when(F.col("lang") == "en", F.lit("60")).otherwise(F.lit("a0"))
    return (
        cleaned.join(docs.select("doc_id", "lang", "source"), "doc_id")
        .withColumn("n_tokens", n_tokens)
        .where(F.col("n_tokens") >= 16)
        .where(bucket < thresh)
        .select("doc_id", "lang", "source", "n_tokens",
                "n_spans", "removed_chars")
    )


# ---------------------------------------------------------------------------
# EXPORT round-trip — the sink closing the training pipeline, certified
# through the driver gate: write the sampled corpus via the export sink
# (hive-partitioned by lang, size-bounded shards), then prove what landed
# on disk by emitting per-partition aggregates from TWO independent
# read paths — (a) Spark re-reading the exported parquet, (b) the sink's
# footer-derived _manifest.json — joined on the partition key.  The
# oracle mirror recomputes the same aggregates from the pure-python
# training-pipeline mirror, so a row lost/duplicated in the shuffle, the
# write, or the manifest scan breaks the hash.  File counts are NOT
# emitted (range-partition sampling makes them config-dependent); row
# totals are layout-invariant.
# ---------------------------------------------------------------------------
@q("export_roundtrip", _fx("export_roundtrip"))
def export_roundtrip(spark, sf_dir):
    import tempfile

    from .pipelines.export import write_training_shards

    sample = training_pipeline_sample(spark, sf_dir)
    out = os.path.join(
        tempfile.mkdtemp(prefix="abwcf-export-gate-"), "train"
    )
    manifest = write_training_shards(
        sample, out, partition_cols=("lang",), max_records_per_file=64
    )
    mdf = spark.createDataFrame(
        [
            (k.split("=", 1)[1], int(v["rows"]))
            for k, v in manifest["partitions"].items()
        ],
        "lang string, manifest_rows long",
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.sum("removed_chars").alias("sum_removed"),
        )
        .join(mdf, "lang")
    )


# ---------------------------------------------------------------------------
# Multimodal feature extraction: decode opaque image bytes and emit typed
# features (dimensions, mean luminance, perceptual hash) — the image-side
# analogue of the text-quality signals, running the same Arrow-batched
# mapInPandas plumbing the crawl's payload validator uses (binary column in,
# typed columns out, pixel math vectorized in numpy).  Oracle: fixture from
# the INDEPENDENT decoder mirror (oracle_fixtures.mirror_decode +
# exact-arithmetic luma/a-hash), so decode semantics are gate-checked.
# ---------------------------------------------------------------------------
def image_stats_extract(spark, sf_dir):
    import pandas as pd

    from .operators.udfs import IMAGE_STATS_SCHEMA, image_stats_batches
    from .testing.corpus import T2_MULTI, gen_corpus

    pdf = gen_corpus(T2_MULTI)["corpus"]
    pdf = pdf[pdf["bytes"].notna()][["url", "bytes"]].reset_index(drop=True)
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    sdf = spark.createDataFrame(pdf.to_dict("records"), "url string, bytes binary")
    return sdf.repartition(8).mapInPandas(image_stats_batches, IMAGE_STATS_SCHEMA)


QUERIES["image_stats_extract"] = image_stats_extract
ORACLE["image_stats_extract"] = _fx("image_stats_extract")


# ---------------------------------------------------------------------------
# Embedding near-duplicate PAIRS (the pairwise dedup path, distinct from the
# query-based ANN search): vectors sharing an 8-bit random-hyperplane
# signature — or whose signatures differ by ONE bit (Hamming-1 multi-probe,
# same expansion the single-query ANN uses; without it a near-dup pair that
# straddles one hyperplane is invisible) — form candidate pairs, confirmed
# by exact cosine, emitted as integer floor-milli.  The probe expansion
# happens on ONE side of the self-join only (each pair still matches
# exactly once: x reaches y only via the single probe equal to y's
# signature, and the vec_a < vec_b filter keeps one orientation).
# 100-TB shape: a shuffled self-join on the signature key — no all-pairs
# product; the per-signature bucket cap (EMB_BUCKET_CAP, against degenerate
# all-identical corpora) bounds the quadratic term at (1 + n_planes)·cap
# candidates per row.  Oracle: constructed fixture
# (oracle_fixtures.build_emb_near_dup) mirroring fold order.
# ---------------------------------------------------------------------------
def embedding_near_dup_pairs(spark, sf_dir):
    from .kernels.hashing import xxhash64_str
    from .oracle_fixtures import ANN_PLANES, EMB_BUCKET_CAP

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    planes = [
        F.array(*[
            F.lit(float(xxhash64_str(f"plane|{p}|{d}") / 2**63)) for d in range(dim)
        ])
        for p in range(ANN_PLANES)
    ]

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    e = F.col("embedding")
    sig = None
    for p, pl in enumerate(planes):
        bit = F.when(dot(e, pl) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    signed = emb.select("vec_id", "embedding", sig.cast("int").alias("sig"))
    # multi-probe admits pairs from singleton buckets, so eligibility is
    # only the upper cap (both endpoints must live in capped buckets)
    ok_sigs = (
        signed.groupBy("sig").agg(F.count(F.lit(1)).alias("ct"))
        .where(F.col("ct") <= EMB_BUCKET_CAP)
        .select("sig")
    )
    capped = signed.join(ok_sigs, "sig")
    probes = F.array(
        F.col("sig"),
        *[F.col("sig").bitwiseXOR(F.lit(1 << p)) for p in range(ANN_PLANES)],
    )
    a = capped.select(
        F.explode(probes).alias("sig"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = capped.select("sig", F.col("vec_id").alias("vec_b"),
                      F.col("embedding").alias("emb_b"))
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.sqrt(dot(F.col("emb_a"), F.col("emb_a")))
        * F.sqrt(dot(F.col("emb_b"), F.col("emb_b")))
    )
    return (
        a.join(b, "sig")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b",
                F.floor(cos * 1000).cast("long").alias("cos_milli"))
    )


QUERIES["embedding_near_dup_pairs"] = embedding_near_dup_pairs
ORACLE["embedding_near_dup_pairs"] = _fx("embedding_near_dup_pairs")


# ---------------------------------------------------------------------------
# Training-data op: near-duplicate CLUSTERING — connected components over
# the MinHash-confirmed pair graph (operators/graph.py: alternating
# large-star/small-star, Kiveris et al. SoCC'14), every document labeled
# with its component representative (min doc_id), component size, and a
# keep/drop flag.  Pair detection alone cannot answer "which rows do I
# drop" — transitive chains (A~B, B~C with A≁C) must dedup as ONE group,
# which only the component view gives.
# 100-TB shape: pair generation is the capped-bucket LSH (no all-pairs);
# the star iterations are O(log n) key-partitioned shuffles over an edge
# set that never grows; the final label join broadcasts nothing bigger
# than the (docs × 2 longs) label table against the corpus scan.
# Oracle: constructed fixture — independent pure-python union-find over
# the mirror's pair list (oracle_fixtures.build_near_dup_clusters).
# ---------------------------------------------------------------------------
def near_dup_clusters(spark, sf_dir):
    from .operators.graph import connected_components
    from .oracle_fixtures import (
        CLUSTER_THRESHOLD_MILLI,
        MINHASH_BANDS,
        MINHASH_BUCKET_CAP,
        MINHASH_PERMS,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _lsh_jaccard_pairs(
        docs, _word_grams, MINHASH_PERMS, MINHASH_BANDS, MINHASH_BUCKET_CAP, "p"
    ).where(F.col("jaccard_milli") >= CLUSTER_THRESHOLD_MILLI)
    cc = connected_components(pairs, a="doc_a", b="doc_b")
    labeled = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


QUERIES["near_dup_clusters"] = near_dup_clusters
ORACLE["near_dup_clusters"] = _fx("near_dup_clusters")


# ---------------------------------------------------------------------------
# Near-dup KEEP-BEST — the keep/drop decision a dedup pipeline actually
# ends with: within every near-dup cluster keep the HIGHEST-QUALITY
# member (here: token count, ties to the lowest doc_id), not the
# arbitrary min-id canonical the cluster view reports.  One extra
# aggregation on cluster_id over the cluster output — partial-agg
# friendly, and the argmax is a single struct max (no window, no sort of
# whole clusters on one reducer).  100-TB shape: clusters are bounded by
# the capped pair graph, so the groupBy keys are well-distributed; the
# quality join is keyed on doc_id like every other doc-side join.
# Oracle: constructed fixture chaining the independent mirrors
# (oracle_fixtures.build_keep_best).
# ---------------------------------------------------------------------------
def near_dup_keep_best_core(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """clusters (doc_id, cluster_id, cluster_size, ...) × quality
    (doc_id, n_tokens) → keep/drop decisions.  Separate from the entry so
    tests can feed constructed cluster/quality tables."""
    scored = clusters.select("doc_id", "cluster_id", "cluster_size").join(
        quality, "doc_id"
    )
    best = (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_tokens"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("b")
        )
        .select("cluster_id", (-F.col("b.neg_id")).alias("keep_doc"))
    )
    return scored.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "n_tokens",
        (F.col("doc_id") == F.col("keep_doc")).alias("keep"),
    )


def near_dup_keep_best(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    quality = docs.select(
        "doc_id",
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1)
        .cast("long")
        .alias("n_tokens"),
    )
    return near_dup_keep_best_core(near_dup_clusters(spark, sf_dir), quality)


QUERIES["near_dup_keep_best"] = near_dup_keep_best
ORACLE["near_dup_keep_best"] = _fx("near_dup_keep_best")


# ---------------------------------------------------------------------------
# EMBEDDING near-duplicate CLUSTERING — the same set-level dedup view for
# the vector modality: connected components (operators/graph.py) over the
# signature-bucketed embedding pair graph (embedding_near_dup_pairs),
# edges gated at EMB_CLUSTER_THRESHOLD_MILLI cosine, every vector labeled
# (cluster rep = min vec_id, size, keep-flag).  Completes the story the
# text side already has (near_dup_clusters): pairs alone cannot answer
# "which rows do I drop" across transitive chains.  100-TB shape: pair
# generation is the capped signature self-join (no all-pairs); the star
# iterations are O(log n) keyed shuffles.  Oracle: constructed fixture —
# independent union-find over the mirror's own pair list
# (oracle_fixtures.build_emb_near_dup_clusters).
# ---------------------------------------------------------------------------
def embedding_near_dup_clusters(spark, sf_dir):
    from .operators.graph import connected_components
    from .oracle_fixtures import EMB_CLUSTER_THRESHOLD_MILLI

    emb = _t(spark, sf_dir, "embeddings").select("vec_id")
    pairs = QUERIES["embedding_near_dup_pairs"](spark, sf_dir).where(
        F.col("cos_milli") >= EMB_CLUSTER_THRESHOLD_MILLI
    )
    cc = connected_components(pairs, a="vec_a", b="vec_b")
    labeled = (
        emb.join(cc.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "vec_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
    )


QUERIES["embedding_near_dup_clusters"] = embedding_near_dup_clusters
ORACLE["embedding_near_dup_clusters"] = _fx("embedding_near_dup_clusters")


# ---------------------------------------------------------------------------
# IMAGE near-dup clustering — the third modality's set-level dedup view
# (text: near_dup_clusters; vectors: embedding_near_dup_clusters): the
# banded-pHash pair graph collapsed to connected components, every image
# labeled with its min-id canonical, cluster size and keep-flag.  A crawl
# that captured the same image at three recompressions keeps exactly one.
# Same 100-TB shape as the siblings (capped banded pairs, O(log n) star
# shuffles).  Oracle: constructed fixture — independent union-find over
# the brute-force popcount mirror's pair list
# (oracle_fixtures.build_phash_clusters).
# ---------------------------------------------------------------------------
def image_phash_clusters(sdf: DataFrame) -> DataFrame:
    """(image_id, phash) → (image_id, cluster_id, cluster_size,
    is_canonical) — the reusable core behind the gate entry, so tests can
    plant transitive chains on constructed hash tables."""
    from .operators.graph import connected_components

    pairs = _phash_banded_pairs(sdf)
    cc = connected_components(pairs, a="image_a", b="image_b")
    labeled = (
        sdf.select("image_id")
        .join(cc.withColumnRenamed("node", "image_id"), "image_id", "left")
        .select(
            "image_id",
            F.coalesce("component", "image_id").alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "image_id",
        "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        (F.col("image_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def image_near_dup_clusters(spark, sf_dir):
    from .oracle_fixtures import phash_corpus

    pdf = phash_corpus()
    sdf = spark.createDataFrame(
        pdf.to_dict("records"), "image_id string, phash long"
    ).repartition(8)
    return image_phash_clusters(sdf)


QUERIES["image_near_dup_clusters"] = image_near_dup_clusters
ORACLE["image_near_dup_clusters"] = _fx("image_near_dup_clusters")

# ---------------------------------------------------------------------------
# Training-data op: DETERMINISTIC stratified sampling — per-stratum
# downsampling by a salted md5 threshold on the row key.  The canonical
# reproducible-pipeline shape (a training mix is "p_en of English, p_*
# of the rest", and re-running the pipeline must keep the SAME rows):
# keep(doc) ⇔ md5(doc_id || salt)[:2] < per-stratum hex threshold, so
# membership is a pure row-local function of (key, salt, strata config).
# 100-TB shape: a Catalyst predicate in the scan stage — no shuffle, no
# state, embarrassingly parallel; thresholds are lexicographic compares
# on the lowercase-hex digest both engines produce identically.
# Thresholds here: 'en' keeps 64/256 = 25%, every other stratum 50%.
# ---------------------------------------------------------------------------
@q(
    "stratified_sample",
    """
    SELECT doc_id, lang,
           substring(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 2) AS bucket
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 2)
          < (CASE WHEN lang = 'en' THEN '40' ELSE '80' END)
    """,
)
def stratified_sample(spark, sf_dir):
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":strat"))), 1, 2
    )
    thresh = F.when(F.col("lang") == "en", F.lit("40")).otherwise(F.lit("80"))
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("bucket", bucket)
        .where(F.col("bucket") < thresh)
        .select("doc_id", "lang", "bucket")
    )


# ---------------------------------------------------------------------------
# Training-data op: per-group top-k (top-3 documents per source by token
# count, doc_id ASC tiebreak — a strict total order, so output is
# deterministic).  100-TB shape: a single window over the full corpus
# sorts EVERY group's rows on one reducer per key — fine until one
# source dominates; instead top-k runs in TWO phases: a salted window
# (source, xxhash64(doc_id) % 16) bounds any reducer to ~1/16 of the
# hottest key, then the final window ranks only the ≤ 3×16 survivors
# per source.  Top-3-of-subgroup-top-3s ⊇ global top-3, so the result
# is exactly the single-window answer — which is what the oracle runs.
# ---------------------------------------------------------------------------
@q(
    "topk_per_source",
    """
    SELECT source, doc_id, n_tokens, rk FROM (
      SELECT source, doc_id, n_tokens,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_tokens DESC, doc_id ASC
             ) AS BIGINT) AS rk
      FROM (
        SELECT source, doc_id,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS n_tokens
        FROM documents
      )
    ) WHERE rk <= 3
    """,
)
def topk_per_source(spark, sf_dir):
    t = F.col("text")
    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        (F.length(t) - F.length(F.regexp_replace(t, " ", "")) + 1)
        .cast("long")
        .alias("n_tokens"),
    )
    order = [F.col("n_tokens").desc(), F.col("doc_id").asc()]
    salted = Window.partitionBy(
        "source", F.pmod(F.xxhash64("doc_id"), F.lit(16))
    ).orderBy(*order)
    survivors = (
        docs.withColumn("_r", F.row_number().over(salted))
        .where(F.col("_r") <= 3)
        .drop("_r")
    )
    final = Window.partitionBy("source").orderBy(*order)
    return (
        survivors.withColumn(
            "rk", F.row_number().over(final).cast("long")
        )
        .where(F.col("rk") <= 3)
        .select("source", "doc_id", "n_tokens", "rk")
    )


# ---------------------------------------------------------------------------
# Image-modality training-data op: pHash NEAR-DUPLICATE pairs — the image
# analogue of MinHash text dedup.  Two crawls of the same image (recompress,
# resize, re-encode) produce perceptual hashes a few bits apart; exact-hash
# dedup (O5) misses them.  The 64-bit phash splits into PHASH_BANDS 16-bit
# bands; by pigeonhole, Hamming ≤ PHASH_MAX_HAMMING implies at least one
# band matches exactly, so pairing the images of every (band, value)
# bucket finds EVERY true pair — recall 1.0, no all-pairs product — and
# the bit_count(xor) confirm rejects band-collision false positives.
# 100-TB shape: explode ×4 into (band, value) buckets, then the shared
# capped bucket-pair skeleton (_bucket_pairs; PHASH_BUCKET_CAP guards hot
# bands, e.g. flat-color images sharing an all-zero band); everything is
# integer Catalyst — no UDF, no float.  Oracle: INDEPENDENT brute-force
# popcount mirror (oracle_fixtures.build_phash_near_dup — no banding),
# exact because the pigeonhole guarantee is lossless and the fixture
# asserts the cap never binds at fixture scale.
# ---------------------------------------------------------------------------
def _phash_banded_pairs(sdf: DataFrame) -> DataFrame:
    """(image_id, phash) keyed by image_id → (image_a < image_b, hamming)
    near-dup pairs — shared by the precomputed-hash entry, the
    decode-from-bytes chain entry and the image clustering."""
    from .oracle_fixtures import (
        PHASH_BANDS,
        PHASH_BUCKET_CAP,
        PHASH_MAX_HAMMING,
    )

    bands = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("phash"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("bval"),
            )
            for i in range(PHASH_BANDS)
        ])
    ).alias("bv")
    keyed = sdf.select(bands, F.struct("image_id", "phash").alias("m")).select(
        "bv.band", "bv.bval", "m"
    )
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        _bucket_pairs(keyed, PHASH_BUCKET_CAP)
        .select(
            F.col("a.image_id").alias("image_a"),
            F.col("b.image_id").alias("image_b"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
        .distinct()
    )


@q("phash_near_dup_pairs", _fx("phash_near_dup_pairs"))
def phash_near_dup_pairs(spark, sf_dir):
    from .oracle_fixtures import phash_corpus

    pdf = phash_corpus()
    sdf = spark.createDataFrame(
        pdf.to_dict("records"), "image_id string, phash long"
    ).repartition(8)
    return _phash_banded_pairs(sdf)


# ---------------------------------------------------------------------------
# pHash near-dup from BYTES — the full image near-dup CHAIN, end-to-end:
# decode the opaque payload with the engine codec (column-pruned Arrow
# mapInPandas, the same kernel the crawl's payload validator runs), compute
# phash64 from the decoded pixels, then the banded pairs above.  The
# precomputed-hash entry certifies the pairing; THIS entry certifies that the
# engine's decode → hash stage feeds it correctly: the oracle mirror
# recomputes every hash from the same bytes through the INDEPENDENT decoder
# (oracle_fixtures.mirror_decode + _mirror_phash) and brute-force popcounts
# all pairs.  Input: the shared T2 image corpus plus deterministic
# re-encoded "second crawl" variants (same pixels, different lossy format
# → hashes 0-1 bits apart).  100-TB shape: decode is map-only over pruned
# (id, bytes) columns; the bucket shuffle moves (band, bval, id, phash)
# rows, never payload bytes.
# ---------------------------------------------------------------------------
@q("phash_bytes_chain_pairs", _fx("phash_bytes_chain_pairs"))
def phash_bytes_chain_pairs(spark, sf_dir):
    import pandas as pd

    from .operators.udfs import IMAGE_STATS_SCHEMA, image_stats_batches
    from .oracle_fixtures import phash_chain_corpus

    pdf = phash_chain_corpus()
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    sdf = spark.createDataFrame(
        pdf.rename(columns={"image_id": "url"}).to_dict("records"),
        "url string, bytes binary",
    )
    hashed = (
        sdf.repartition(8)
        .mapInPandas(image_stats_batches, IMAGE_STATS_SCHEMA)
        .select(F.col("url").alias("image_id"), "phash")
    )
    return _phash_banded_pairs(hashed)


# ---------------------------------------------------------------------------
# ANN scale path #2: IVF (inverted-file) coarse quantization — the
# complement of the LSH variant above.  Every vector is assigned to the
# nearest of IVF_K centroid cells (argmax cosine, map-only against a
# broadcast centroid list); a query probes only the IVF_PROBES cells
# nearest its own vector and exact-re-ranks their members.  At 10^10 rows
# with cell-partitioned layout the probe prunes the scan to ~P/K of the
# corpus vs LSH's fixed-radius Hamming buckets — IVF trades its recall
# knob (n_probes) for partition pruning, which is why production ANN
# (FAISS IVF-Flat) prefers it for disk-resident corpora.
#
# Centroids: IVF_K lowest-vec_id seeds refined by IVF_ITERS DETERMINISTIC
# Lloyd iterations — assignment is the argmax-cosine map above; the update
# step sums each component as an integer MICRO (HALF_UP(x·1e6) as long —
# exact, order-independent, so the distributed sum equals any sequential
# mirror bit-for-bit) per (cell, dim) and divides half-away-from-zero by
# the member count on the driver (K·dim values — constant collect).  This
# is the standard distributed k-means shape: per-iteration cost is one
# map-side-combined aggregation over the corpus.  Recall@20 vs the brute
# baseline is measured in tests/test_queries.py (mean over 50 queries) and
# recorded in BASELINE.md.  Oracle: constructed fixture (oracle_fixtures.
# build_ann_ivf) mirroring fold order, the lexicographic argmax tie-break,
# the integer-micro centroid means, and HALF_UP rounding.
# ---------------------------------------------------------------------------
def _ivf_dot(u, v):
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v_: acc + v_,
    )


def _ivf_cos_to(cv):
    e = F.col("embedding")
    lit = F.lit(cv)
    return _ivf_dot(e, lit) / (
        F.sqrt(_ivf_dot(e, e)) * F.sqrt(_ivf_dot(lit, lit))
    )


def _ivf_assign_expr(cent_vecs):
    """argmax cosine via array_max over (cs, c) structs: lexicographic
    struct order ⇒ ties break to the larger cell id (mirror matches)."""
    return F.array_max(
        F.array(*[
            F.struct(_ivf_cos_to(cv).alias("cs"), F.lit(c).alias("c"))
            for c, cv in enumerate(cent_vecs)
        ])
    ).getField("c")


def _ivf_half_up_div(a: int, n: int) -> int:
    """round-half-away-from-zero of a/n in pure integer arithmetic (the
    documented centroid-mean rule; the mirror implements it independently
    via Decimal quantize)."""
    return (2 * a + n) // (2 * n) if a >= 0 else -((2 * (-a) + n) // (2 * n))


def _ivf_centroids(emb: DataFrame) -> tuple[list, list[list[float]]]:
    """Seed rows (lowest vec_ids) + Lloyd-refined centroid vectors.
    Each iteration: one distributed per-(cell, dim) integer-micro sum job
    (posexplode + groupBy — map-side partial aggregation, K·dim rows
    collected), division driver-side."""
    from .oracle_fixtures import IVF_ITERS, IVF_K

    seeds = emb.orderBy("vec_id").limit(IVF_K).select(
        "vec_id", "embedding"
    ).collect()
    cent_vecs = [[float(x) for x in r.embedding] for r in seeds]
    dim = len(cent_vecs[0])
    for _ in range(IVF_ITERS):
        rows = (
            emb.withColumn("cell", _ivf_assign_expr(cent_vecs))
            .select("cell", F.posexplode("embedding").alias("d", "x"))
            .groupBy("cell", "d")
            .agg(
                F.sum(
                    F.round(F.col("x").cast("double") * 1e6, 0).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by: dict[int, dict[int, tuple[int, int]]] = {}
        for r in rows:
            by.setdefault(int(r.cell), {})[int(r.d)] = (int(r.s), int(r.n))
        cent_vecs = [
            [_ivf_half_up_div(by[c][d][0], by[c][d][1]) / 1e6
             for d in range(dim)]
            if c in by else cent_vecs[c]
            for c in range(IVF_K)
        ]
    return seeds, cent_vecs


@q("embedding_ann_ivf", _fx("embedding_ann_ivf"))
def embedding_ann_ivf(spark, sf_dir):
    import math

    from .oracle_fixtures import IVF_PROBES, IVF_TOPK

    emb = _t(spark, sf_dir, "embeddings")
    seeds, cent_vecs = _ivf_centroids(emb)
    qid, qv = int(seeds[0].vec_id), [float(x) for x in seeds[0].embedding]

    # driver-side probe selection over K vectors (constant work; plain
    # left-fold float math so any engine reproduces the same doubles).
    # INTENTIONALLY re-implemented rather than imported from
    # oracle_fixtures: the mirror's cosine must stay an independent
    # implementation for the gate's hash check to mean anything — the two
    # folds agreeing is part of what the entry certifies.
    def pydot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + float(x) * float(y)
        return acc

    def pycos(u, v):
        return pydot(u, v) / (math.sqrt(pydot(u, u)) * math.sqrt(pydot(v, v)))

    order = sorted(
        ((pycos(qv, cv), c) for c, cv in enumerate(cent_vecs)),
        key=lambda t: (-t[0], t[1]),
    )
    probes = [c for _, c in order[:IVF_PROBES]]

    q_lit = F.lit(qv)
    e = F.col("embedding")
    cos_q = _ivf_dot(e, q_lit) / (
        F.sqrt(_ivf_dot(e, e)) * F.sqrt(_ivf_dot(q_lit, q_lit))
    )
    return (
        emb.withColumn("cell", _ivf_assign_expr(cent_vecs).cast("int"))
        .where(F.col("cell").isin(*probes) & (F.col("vec_id") != qid))
        .select("vec_id", "cell", F.round(cos_q, 4).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(IVF_TOPK)
    )


# ---------------------------------------------------------------------------
# IVF ANN over a query TABLE — the batch complement of embedding_ann_ivf,
# mirroring what embedding_ann_batch is to embedding_ann_lsh: production
# dedup runs query tables, not single probes.  Probe-cell selection happens
# IN SPARK per query row (slice of an array_sort over (−cos, c) structs —
# negation is exact, so descending-cosine order matches the mirror), the
# exploded (query × IVF_PROBES probes) set broadcasts into the cell-
# assigned corpus as ONE equi-join on cell, and a per-q_id window re-ranks
# exactly.  100-TB shape: broadcast size = queries × probes; corpus side
# is the same probe-pruned cell scan as the single-query path — no
# cartesian, no driver loop (plan-pinned).  Oracle: constructed fixture
# (oracle_fixtures.build_ann_ivf_batch).
# ---------------------------------------------------------------------------
@q("embedding_ann_ivf_batch", _fx("embedding_ann_ivf_batch"))
def embedding_ann_ivf_batch(spark, sf_dir):
    from .oracle_fixtures import ANN_BATCH_QUERIES, ANN_BATCH_TOPK, IVF_PROBES

    emb = _t(spark, sf_dir, "embeddings")
    _seeds, cent_vecs = _ivf_centroids(emb)

    assigned = emb.withColumn("cell", _ivf_assign_expr(cent_vecs).cast("int"))
    probe_arr = F.slice(
        F.array_sort(
            F.array(*[
                F.struct((-_ivf_cos_to(cv)).alias("negcs"), F.lit(c).alias("c"))
                for c, cv in enumerate(cent_vecs)
            ])
        ),
        1,
        IVF_PROBES,
    )
    qrows = (
        emb.orderBy("vec_id")
        .limit(ANN_BATCH_QUERIES)
        .withColumn("_probes", probe_arr)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                F.transform("_probes", lambda s: s.getField("c").cast("int"))
            ).alias("cell"),
        )
    )
    cand = assigned.join(F.broadcast(qrows), "cell").where(
        F.col("vec_id") != F.col("q_id")
    )
    cos = _ivf_dot(F.col("embedding"), F.col("q_emb")) / (
        F.sqrt(_ivf_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_ivf_dot(F.col("q_emb"), F.col("q_emb")))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.select("q_id", "vec_id", F.round(cos, 4).alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_BATCH_TOPK)
    )


# ---------------------------------------------------------------------------
# Event-time windowed rollup (streaming/rollup.py) — the gate runs the
# BATCH mode of the unified transform; tests/test_streaming_rollup.py runs
# the SAME function as a watermarked Structured Streaming query and proves
# late-data eviction.  Exact decimal summation makes the double output
# order-independent, so it hash-matches any engine.
# ---------------------------------------------------------------------------
@q(
    "events_windowed_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_windowed_rollup(spark, sf_dir):
    from .streaming.rollup import windowed_event_rollup

    return windowed_event_rollup(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Multimodal image RESIZE (the decode → resize → feature chain a training
# pipeline runs before vision-model ingestion): nearest-neighbor thumbnail
# via exact floor-index sampling inside a column-pruned mapInPandas (only
# url + bytes reach Python — Arrow-batched, no per-row Python round trip).
# All arithmetic is integer, so the INDEPENDENT decoder mirror
# (oracle_fixtures.build_image_resize) reproduces it bit-for-bit.
# ---------------------------------------------------------------------------
def image_resize_stats(spark, sf_dir):
    import pandas as pd

    from .operators.udfs import IMAGE_RESIZE_SCHEMA, image_resize_batches
    from .testing.corpus import T2_MULTI, gen_corpus

    pdf = gen_corpus(T2_MULTI)["corpus"]
    pdf = pdf[pdf["bytes"].notna()][["url", "bytes"]].reset_index(drop=True)
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    sdf = spark.createDataFrame(pdf.to_dict("records"), "url string, bytes binary")
    return sdf.repartition(8).mapInPandas(image_resize_batches, IMAGE_RESIZE_SCHEMA)


QUERIES["image_resize_stats"] = image_resize_stats
ORACLE["image_resize_stats"] = _fx("image_resize_stats")


# ---------------------------------------------------------------------------
# Image EXACT dedup by content hash — the md5-groupBy dedup a training
# pipeline runs before the pHash NEAR-dup pass: byte-identical payloads
# crawled from different URLs collapse to one canonical row.  Pure Catalyst
# (jvm md5 over the binary column + groupBy on the 16-byte digest — the
# classic 100-TB exact-dedup shape: shuffle keys are digests, never bytes);
# the mirror recomputes with hashlib + pandas, so the entry certifies the
# two md5s and the dedup shape agree.  Corpus: shared deterministic
# duplicate construction (oracle_fixtures.image_dedup_corpus).
# ---------------------------------------------------------------------------
def image_exact_dedup(spark, sf_dir):
    import pandas as pd

    from .oracle_fixtures import image_dedup_corpus

    pdf = image_dedup_corpus()
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    sdf = spark.createDataFrame(pdf.to_dict("records"), "url string, bytes binary")
    return (
        sdf.repartition(8)
        .select("url", F.md5("bytes").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("url").alias("canonical_url"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select("content_md5", "canonical_url", "n_copies")
    )


QUERIES["image_exact_dedup"] = image_exact_dedup
ORACLE["image_exact_dedup"] = _fx("image_exact_dedup")


# ---------------------------------------------------------------------------
# BPE-style token counting — the pre-tokenizer shape LLM data pipelines run
# for length filtering and training-mix budgeting: maximal runs of letters,
# runs of digits, and single other-class characters (the class structure of
# the GPT-2 pre-tokenizer, ASCII-classed so Spark's Java regex and the
# oracle's RE2 agree — verified token-for-token on CJK/diacritic/empty edge
# cases).  The whitespace class is spelled EXPLICITLY rather than \s:
# Java's \s includes \x0B (vertical tab) while RE2's does not, so a
# \s-based pattern would silently disagree between the Spark query and the
# DuckDB oracle on any text containing \x0B.  Pure Catalyst scan stage
# (JVM regexp_extract_all, no UDF, no shuffle); the oracle is plain SQL —
# no constructed fixture, the strongest gate form.  n_other = n_tokens -
# n_alpha - n_num: the classes partition the combined pattern, and
# per-class counts equal the combined tokenization's because maximal runs
# of disjoint classes can't merge.
# ---------------------------------------------------------------------------
_TOK_ALL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


@q(
    "token_counts_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]'))
                AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_alpha,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]'))
                - len(regexp_extract_all(text, '[A-Za-z]+'))
                - len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_other
    FROM documents
    """,
)
def token_counts_bpe(spark, sf_dir):
    n_tokens = F.size(F.regexp_extract_all("text", F.lit(_TOK_ALL), 0))
    n_alpha = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+"), 0))
    n_num = F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_alpha.cast("long").alias("n_alpha"),
        n_num.cast("long").alias("n_num"),
        (n_tokens - n_alpha - n_num).cast("long").alias("n_other"),
    )


# ---------------------------------------------------------------------------
# Training-data op: within-document REPETITION quality signals — the
# Gopher-rule family (Rae et al. 2021 §A1.1; same signals ship in the
# public Dolma toolkit): excessively self-repetitive documents (looped
# boilerplate, keyword stuffing, templated spam) are poor training text
# even when no OTHER document duplicates them, so pipelines gate on
# duplicate-n-gram fractions BEFORE cross-document dedup.  Three signals
# per doc, integer milli-fractions (no float reductions):
#   dup_word_frac_milli     1000·(n_words − n_distinct_words)/n_words
#   top_bigram_frac_milli   1000·(most frequent bigram count)/n_bigrams
#   dup_trigram_frac_milli  1000·(occurrences of trigrams seen >1×)/n_trigrams
# (The corpus fixture is single-line, so Gopher's duplicate-LINE variants
# are degenerate here; the n-gram family is the meaningful granularity.)
#
# 100-TB shape: grams for n=1,2,3 are built PER ROW with array
# higher-order functions (tokens never leave their row), exploded once,
# then ONE (doc_id, n, gram) groupBy → ONE doc_id groupBy — both
# hash-partial-aggregated map-side, so the shuffle carries (gram, count)
# partials, never raw text.  Per-doc work is linear in doc length (no
# per-row quadratic distinct×scan), so a 1 MB outlier doc costs O(tokens),
# not O(tokens²).  Whitespace is the explicit ASCII class (Java \s
# includes \x0B, RE2's does not — token_counts_bpe note).  Oracle is
# plain SQL — the strongest gate form.
# ---------------------------------------------------------------------------
_WS_CLASS = r"[ \t\n\x0B\f\r]+"


@q(
    "doc_repetition_signals",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM tk
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM tk WHERE len(toks) >= 2
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1] || ' '
                                        || toks[i + 2])) AS gram
      FROM tk WHERE len(toks) >= 3
    ), pg AS (
      SELECT doc_id, n, gram, count(*) AS ct FROM grams GROUP BY 1, 2, 3
    ), pd AS (
      SELECT doc_id,
             sum(CASE WHEN n = 1 THEN ct END) AS n_words,
             sum(CASE WHEN n = 1 THEN 1 END) AS n_distinct,
             max(CASE WHEN n = 2 THEN ct END) AS top_bg,
             sum(CASE WHEN n = 2 THEN ct END) AS n_bg,
             sum(CASE WHEN n = 3 AND ct > 1 THEN ct ELSE 0 END) AS dup_tg,
             sum(CASE WHEN n = 3 THEN ct END) AS n_tg
      FROM pg GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
           CAST(CASE WHEN coalesce(n_words, 0) = 0 THEN 0
                     ELSE floor(1000 * (n_words - n_distinct) / n_words)
                END AS BIGINT) AS dup_word_frac_milli,
           CAST(CASE WHEN coalesce(n_bg, 0) = 0 THEN 0
                     ELSE floor(1000 * top_bg / n_bg)
                END AS BIGINT) AS top_bigram_frac_milli,
           CAST(CASE WHEN coalesce(n_tg, 0) = 0 THEN 0
                     ELSE floor(1000 * dup_tg / n_tg)
                END AS BIGINT) AS dup_trigram_frac_milli
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
)
def doc_repetition_signals(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", _WS_CLASS), lambda t: t != F.lit(""))
    d = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    empty = F.array().cast("array<int>")

    def gram_structs(k: int):
        idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(empty)
        return F.transform(
            idx,
            lambda i: F.struct(
                F.lit(k).alias("n"),
                F.concat_ws(
                    " ", *[F.get("toks", i + j) for j in range(k)]
                ).alias("gram"),
            ),
        )

    pg = (
        d.select(
            "doc_id",
            F.explode(
                F.concat(gram_structs(1), gram_structs(2), gram_structs(3))
            ).alias("g"),
        )
        .select("doc_id", "g.n", "g.gram")
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    is1, is2, is3 = (F.col("n") == k for k in (1, 2, 3))
    pd_ = pg.groupBy("doc_id").agg(
        F.sum(F.when(is1, F.col("ct"))).alias("n_words"),
        F.sum(F.when(is1, F.lit(1))).alias("n_distinct"),
        F.max(F.when(is2, F.col("ct"))).alias("top_bg"),
        F.sum(F.when(is2, F.col("ct"))).alias("n_bg"),
        F.sum(
            F.when(is3 & (F.col("ct") > 1), F.col("ct")).otherwise(F.lit(0))
        ).alias("dup_tg"),
        F.sum(F.when(is3, F.col("ct"))).alias("n_tg"),
    )

    def milli(num, den):
        return (
            F.when(
                F.coalesce(den, F.lit(0)) == 0, F.lit(0)
            )
            .otherwise(F.floor(F.lit(1000) * num / den))
            .cast("long")
        )

    return (
        docs.select("doc_id")
        .join(pd_, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            milli(
                F.col("n_words") - F.col("n_distinct"), F.col("n_words")
            ).alias("dup_word_frac_milli"),
            milli(F.col("top_bg"), F.col("n_bg")).alias("top_bigram_frac_milli"),
            milli(F.col("dup_tg"), F.col("n_tg")).alias("dup_trigram_frac_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data op: eval-set DECONTAMINATION — flag corpus documents that
# share a word n-gram with a benchmark/eval suite (the GPT-3 appendix-C /
# Dolma decontamination shape: training text overlapping a test set
# inflates downstream eval scores, so pipelines drop or redact it before
# training).  Stand-in eval suite: documents with doc_id % 97 == 0 (six
# docs at sf0.01); corpus = the rest.  Output per corpus doc: the number
# of n-gram OCCURRENCES also present in the eval suite + a boolean flag.
#
# Production runs n in 8..13; the gate runs n=4 because the synthetic
# fixture's ~40-word vocabulary makes longer cross-doc grams vanishingly
# rare (measured: 9 occurrence hits at n=4, 0 at n≥6) — the operator
# takes n as a parameter, the plan shape is n-independent.
#
# 100-TB shape: eval-suite grams are DISTINCT'd and broadcast (an eval
# suite is KBs–MBs against a 100-TB corpus), so corpus grams are probed
# map-side inside the scan stage — no corpus-side shuffle of raw text;
# the only wide exchange is the per-doc hit-count groupBy carrying
# (doc_id, partial count).  Grams are built per-row with array
# higher-order functions (linear in doc length).  Oracle is plain SQL.
# ---------------------------------------------------------------------------
def decontaminate(docs: DataFrame, n: int = 4, eval_mod: int = 97) -> DataFrame:
    toks = F.filter(F.split("text", _WS_CLASS), lambda t: t != F.lit(""))
    d = docs.select("doc_id", toks.alias("toks"))
    sz = F.size("toks")
    idx = F.when(sz >= n, F.sequence(F.lit(0), sz - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.get("toks", i + j) for j in range(n)]
                ),
            )
        ).alias("gram"),
    )
    is_eval = F.col("doc_id") % eval_mod == 0
    eval_grams = grams.where(is_eval).select("gram").distinct()
    hits = (
        grams.where(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.where(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@q(
    "ngram_decontaminate",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i + 1] || ' '
                         || toks[i + 2] || ' ' || toks[i + 3])) AS gram
      FROM tk WHERE len(toks) >= 4
    ), ev AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT g.doc_id, count(*) AS n_hits
      FROM g JOIN ev USING (gram)
      WHERE g.doc_id % 97 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_contaminated,
           coalesce(n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % 97 <> 0
    """,
)
def ngram_decontaminate(spark, sf_dir):
    return decontaminate(_t(spark, sf_dir, "documents"), n=4, eval_mod=97)


# ---------------------------------------------------------------------------
# Training-data op: INCREMENTAL near-dup — dedup a NEW crawl batch against
# the EXISTING corpus without reporting corpus pairs.  This is the shape a
# continuous crawl actually runs every ingest cycle: the self-join near-dup
# pass (minhash_lsh_candidates) is an O(corpus) backfill job, while
# steady-state ingest only needs batch×corpus edges.  Batch membership is
# deterministic here (doc_id % 5 == 4 ≈ 20% of docs stand in for "this
# cycle's crawl"); production passes a real batch table.
#
# Shape: the self-join's signature (_minhash_melted) and bucket pairs
# (_bucket_pairs, same hot-bucket cap) with the batch flag carried in the
# member struct.  Same-side pairs are dropped right after the in-row
# enumeration (≤ cap²/2 per bucket, no extra shuffle); the rest are
# oriented batch → corpus and go through the shared exact confirm
# (_jaccard_confirm_arrays).  In production the corpus side's signatures
# would be precomputed and stored.  Oracle: independent pure-python mirror
# (oracle_fixtures.build_incremental_minhash) on the spec-XXH64.
# ---------------------------------------------------------------------------
def incremental_minhash_core(docs: DataFrame, is_batch) -> DataFrame:
    """(doc_id, text) docs + a batch-membership Column over doc_id →
    (batch_doc, corpus_doc, jaccard_milli).  Separate from the entry so
    tests can plant batch/corpus near-dups on constructed docs."""
    from .oracle_fixtures import (
        MINHASH_BANDS,
        MINHASH_BUCKET_CAP,
        MINHASH_PERMS,
    )

    keyed = _minhash_melted(
        docs, _word_grams, MINHASH_PERMS, MINHASH_BANDS, "p"
    ).select(
        "band", "bucket", F.struct("doc_id", is_batch.alias("is_batch")).alias("m")
    )
    a_batch = F.col("a.is_batch")
    a_id, b_id = F.col("a.doc_id"), F.col("b.doc_id")
    pairs = (
        _bucket_pairs(keyed, MINHASH_BUCKET_CAP)
        .where(a_batch != F.col("b.is_batch"))
        .select(
            F.when(a_batch, a_id).otherwise(b_id).alias("doc_a"),
            F.when(a_batch, b_id).otherwise(a_id).alias("doc_b"),
        )
    )
    return _jaccard_confirm_arrays(docs, _word_grams, pairs).select(
        F.col("doc_a").alias("batch_doc"),
        F.col("doc_b").alias("corpus_doc"),
        "jaccard_milli",
    )


@q("incremental_minhash_dedup")
def incremental_minhash_dedup(spark, sf_dir):
    from .oracle_fixtures import INC_BATCH_MOD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return incremental_minhash_core(
        docs, F.col("doc_id") % INC_BATCH_MOD == INC_BATCH_MOD - 1
    )


ORACLE["incremental_minhash_dedup"] = _fx("incremental_minhash_dedup")


# ---------------------------------------------------------------------------
# Image+caption corpus FILTER — the LAION-style pre-training gate, the first
# pass an image training pipeline runs over crawled (image, caption) pairs
# (the graft's input_hint shape): geometry (min side, aspect), payload
# sanity (bytes-per-pixel from the binary column's length — truncated or
# metadata-inconsistent payloads sink it), and caption quality (token +
# char bounds).  ONE Catalyst scan stage — integer-exact milli arithmetic,
# no UDF, no shuffle, no decode; at 100 TB this is a map-only pass whose
# binary column is never moved (length() reads the in-page size).  The
# oracle is an independent pure-python mirror over the same planted corpus
# (oracle_fixtures.build_image_caption_filter).
# ---------------------------------------------------------------------------

def _laion_sdf(spark):
    import pandas as pd

    from .oracle_fixtures import laion_corpus

    pdf = laion_corpus()
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    return spark.createDataFrame(
        pdf.to_dict("records"),
        "image_id string, url string, bytes binary, w long, h long, "
        "fmt string, caption string, phash long",
    )


def _icf_metrics(sdf: DataFrame) -> DataFrame:
    """Append the filter's integer-milli metrics + per-rule flags + keep to
    an (image_id, bytes, w, h, caption, ...) frame — one scan-stage
    projection, shared by the standalone entry and the composed pipeline."""
    from .oracle_fixtures import (
        ICF_CAP_MAX_CHARS,
        ICF_CAP_MIN_CHARS,
        ICF_CAP_MIN_TOKENS,
        ICF_MAX_ASPECT_MILLI,
        ICF_MIN_BPP_MILLI,
        ICF_MIN_SIDE,
    )

    cap_tokens = F.size(
        F.filter(F.split(F.col("caption"), r"\s+"), lambda x: x != "")
    ).cast("long")
    out = sdf.select(
        "*",
        F.length("bytes").cast("long").alias("n_bytes"),
        F.expr("(1000 * greatest(w, h)) div least(w, h)").alias("aspect_milli"),
        F.expr("(1000 * length(bytes)) div (w * h)").alias("bpp_milli"),
        F.length("caption").cast("long").alias("cap_chars"),
        cap_tokens.alias("cap_tokens"),
    )
    out = out.select(
        "*",
        (F.least("w", "h") >= ICF_MIN_SIDE).alias("ok_size"),
        (F.col("aspect_milli") <= ICF_MAX_ASPECT_MILLI).alias("ok_aspect"),
        (F.col("bpp_milli") >= ICF_MIN_BPP_MILLI).alias("ok_payload"),
        (
            (F.col("cap_tokens") >= ICF_CAP_MIN_TOKENS)
            & F.col("cap_chars").between(ICF_CAP_MIN_CHARS, ICF_CAP_MAX_CHARS)
        ).alias("ok_caption"),
    )
    return out.select(
        "*",
        (
            F.col("ok_size") & F.col("ok_aspect")
            & F.col("ok_payload") & F.col("ok_caption")
        ).alias("keep"),
    )


@q("image_caption_filter", _fx("image_caption_filter"))
def image_caption_filter(spark, sf_dir):
    return _icf_metrics(_laion_sdf(spark).repartition(8)).select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        "n_bytes", "aspect_milli", "bpp_milli", "cap_chars", "cap_tokens",
        "ok_size", "ok_aspect", "ok_payload", "ok_caption", "keep",
    )


# ---------------------------------------------------------------------------
# Generic-caption dedup — captions shared by many DISTINCT images ("photo",
# "untitled", camera-roll names) carry no supervision signal; the standard
# treatment keeps one representative pair per generic caption and every
# specifically-captioned image.  Shape: one groupBy on the caption (at
# 100 TB: on md5(caption) — bounded-width shuffle keys) producing a tiny
# per-caption dim (distinct captions << images) broadcast back onto the
# corpus; no window over the full table, no self-join.  Mirror:
# oracle_fixtures.build_caption_dedup_generic (pandas groupby).
# ---------------------------------------------------------------------------

def _caption_keep(sdf: DataFrame) -> DataFrame:
    """Append (caption_images, is_generic, keep_caption) to an
    (image_id, caption, ...) frame: one groupBy building the per-caption
    dim, joined back on caption — shared by the standalone entry and the
    composed pipeline.  NO forced broadcast: at 100 TB the caption dim is
    caption-cardinality-sized (billions of rows), so the scale shape is
    the caption-keyed equi-join — the dim side is ALREADY hash-partitioned
    on caption by its groupBy, and AQE converts to broadcast at runtime
    whenever the dim is actually small (it is at gate scale)."""
    from .oracle_fixtures import CAPTION_GENERIC_MIN_IMAGES

    per_caption = sdf.select("image_id", "caption").groupBy("caption").agg(
        F.count_distinct("image_id").cast("long").alias("caption_images"),
        F.min("image_id").alias("rep_image"),
    )
    return (
        sdf.join(per_caption, "caption")
        .select(
            "*",
            (F.col("caption_images") >= CAPTION_GENERIC_MIN_IMAGES).alias(
                "is_generic"
            ),
            (
                (F.col("caption_images") < CAPTION_GENERIC_MIN_IMAGES)
                | (F.col("image_id") == F.col("rep_image"))
            ).alias("keep_caption"),
        )
        .drop("rep_image")
    )


@q("caption_dedup_generic", _fx("caption_dedup_generic"))
def caption_dedup_generic(spark, sf_dir):
    sdf = _laion_sdf(spark).select("image_id", "caption").repartition(8)
    return _caption_keep(sdf).select(
        "image_id", "caption_images", "is_generic",
        F.col("keep_caption").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Composed image-corpus curation — the end-to-end pass a multimodal
# training pipeline runs over crawled (image, caption) pairs, as ONE
# entry: LAION-style filter -> generic-caption dedup among the filter's
# survivors -> pHash near-dup keep-one (banded bucket pairs + distributed
# connected components, min-id canonical) among survivors of both.  Stage
# flags are False for rows dropped upstream (the stage never saw them).
# Shapes at 100 TB: scan-stage filter, broadcast caption dim, capped
# banded buckets + O(log n) star iterations — no all-pairs product anywhere.
# Mirror: oracle_fixtures.build_image_training_pipeline (brute popcount +
# union-find over the same planted corpus, incl. the hv%11==5 one-bit
# pHash near-dup plants).
# ---------------------------------------------------------------------------

@q("image_training_pipeline", _fx("image_training_pipeline"))
def image_training_pipeline(spark, sf_dir):
    base = _icf_metrics(_laion_sdf(spark).repartition(8)).select(
        "image_id", "caption", "phash", F.col("keep").alias("pass_filter")
    )
    s1 = _caption_keep(base.where("pass_filter"))
    s2 = s1.where("keep_caption").select("image_id", "phash")
    canon = image_phash_clusters(s2).select(
        "image_id", F.col("is_canonical").alias("pass_neardup")
    )
    return (
        base.select("image_id", "pass_filter")
        .join(s1.select("image_id", "keep_caption"), "image_id", "left")
        .join(canon, "image_id", "left")
        .select(
            "image_id",
            "pass_filter",
            F.coalesce("keep_caption", F.lit(False)).alias("pass_caption"),
            F.coalesce("pass_neardup", F.lit(False)).alias("pass_neardup"),
            (
                F.col("pass_filter")
                & F.coalesce("keep_caption", F.lit(False))
                & F.coalesce("pass_neardup", F.lit(False))
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction — the scrubbing pass before training-set export: emails,
# IPv4s, and phone numbers replaced by typed tokens, with per-doc counts
# for audit.  Pure Catalyst regexp_count/regexp_replace (JVM regex, scan
# stage, no UDF, no shuffle) — patterns use explicit ASCII classes only so
# the JVM engine and the mirror's Python re agree (same \s-class lesson as
# token_counts_bpe).  Counts are taken on the SAME intermediate the next
# replace runs on (emails first — "mail-3.example.com" would otherwise
# feed the IP pattern's dotted-quad).  Mirror:
# oracle_fixtures.build_pii_redact (python re.sub over the same planted
# corpus); clean docs must pass through byte-identical.
# ---------------------------------------------------------------------------

@q("pii_redact", _fx("pii_redact"))
def pii_redact(spark, sf_dir):
    from .oracle_fixtures import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_corpus,
    )

    sdf = spark.createDataFrame(
        pii_corpus().to_dict("records"), "doc_id long, text string"
    ).repartition(8)
    t0 = F.col("text")
    t1 = F.regexp_replace(t0, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return sdf.select(
        "doc_id",
        F.regexp_count(t0, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(t2, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        t3.alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# Caption CONSOLIDATION on exact-duplicate images — the same image crawled
# at many URLs carries different captions; training pipelines keep ONE
# (image, caption) pair per content group with the most informative
# caption (most tokens, ties to the lowest image_id).  Shape: jvm md5
# over the binary column (16-byte digests are the only shuffle keys —
# payload bytes never move), then TWO digest-keyed aggregations (max
# token count, then min image_id among the maximal rows) — both
# partial-agg friendly, no window over content groups, string ids
# supported without the numeric negate trick keep-best uses.  Mirror:
# oracle_fixtures.build_image_caption_consolidate (hashlib + pandas) over
# planted byte-identical re-crawls whose captions are alternately richer
# (re-crawl wins) or generic (original wins).
# ---------------------------------------------------------------------------

@q("image_caption_consolidate", _fx("image_caption_consolidate"))
def image_caption_consolidate(spark, sf_dir):
    import pandas as pd

    from .oracle_fixtures import caption_consolidation_corpus

    pdf = caption_consolidation_corpus()
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    sdf = spark.createDataFrame(
        pdf.to_dict("records"),
        "image_id string, url string, bytes binary, caption string",
    ).repartition(8)
    cap_tokens = F.size(
        F.filter(F.split(F.col("caption"), r"\s+"), lambda x: x != "")
    ).cast("long")
    scored = sdf.select(
        "image_id",
        F.md5("bytes").alias("content_md5"),
        cap_tokens.alias("cap_tokens"),
    )
    best_n = scored.groupBy("content_md5").agg(
        F.max("cap_tokens").alias("best_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )
    keeper = (
        scored.join(best_n, "content_md5")
        .where(F.col("cap_tokens") == F.col("best_tokens"))
        .groupBy("content_md5")
        .agg(F.min("image_id").alias("keep_image"))
    )
    return (
        scored.join(best_n.select("content_md5", "n_copies"), "content_md5")
        .join(keeper, "content_md5")
        .select(
            "image_id",
            "content_md5",
            "n_copies",
            "cap_tokens",
            (F.col("image_id") == F.col("keep_image")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Aspect-ratio BUCKETING — the SDXL-style batch-grouping pass image
# training pipelines run after filtering: every image gets the NEAREST
# target aspect from a small fixed bucket table (ties to the smaller
# target) so training batches form from same-bucket images without
# destructive crops.  Shape: the bucket table is a literal array folded
# in the scan stage (integer milli-aspect, sort_array over (distance,
# bucket) structs — no UDF, no join for the assignment); per-bucket
# counts come back via one broadcast of the tiny bucket dim.  Mirror:
# oracle_fixtures.build_image_aspect_buckets.
# ---------------------------------------------------------------------------

@q("image_aspect_buckets", _fx("image_aspect_buckets"))
def image_aspect_buckets(spark, sf_dir):
    from .oracle_fixtures import ASPECT_BUCKETS_MILLI

    sdf = _laion_sdf(spark).select("image_id", "w", "h").repartition(8)
    arr = ",".join(str(b) for b in ASPECT_BUCKETS_MILLI)
    assigned = sdf.select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        F.expr("(1000 * w) div h").alias("aspect_milli"),
    ).select(
        "*",
        F.expr(
            f"sort_array(transform(array({arr}), "
            "b -> struct(abs(aspect_milli - b) AS d, b AS b)))[0].b"
        ).cast("long").alias("bucket_milli"),
    )
    counts = assigned.groupBy("bucket_milli").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_images")
    )
    return assigned.join(F.broadcast(counts), "bucket_milli").select(
        "image_id", "w", "h", "aspect_milli", "bucket_milli", "bucket_images"
    )
