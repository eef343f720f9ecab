"""The re-expressed ABWCF pipeline stages as composable DataFrame operators.

Each function is one operator from SURVEY.md §2 (O1-O19), written so that
Catalyst keeps the hot path JVM-side: filters/projections/joins/windows are
built-ins; pandas UDFs appear only where semantics demand them (normalize,
robots match, robots parse, redirect resolve, payload decode).

Scale notes (10^10-URL frontier design point):
- the frontier is only ever touched by column-pruned scans (`url` for the
  anti-join probe, politeness columns for selection) — payload bytes live in
  a separate table and are joined in only for the round's fetch set;
- the hosts table (1 row/host) is broadcast-joined;
- politeness selection is a per-host top-k: an optional salted pre-rank pass
  (`n_salts`) bounds any single window partition to ~1/n_salts of a hot
  host's rows before the exact per-host rank — correct because the per-host
  top-B is contained in the union of per-salt top-Bs;
- fetch-order assignment never uses a global single-partition window over
  URLs: ranks are per-host (parallel), and only the per-host *counts* (one
  row per active host) go through an ordered prefix-sum window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    STATUS_DISALLOWED,
    STATUS_DISCOVERED,
    STATUS_PROCESSED,
    CrawlConfig,
)

# scheme + authority of a normalized URL (UrlUtils.scala:12-15) — pure Catalyst
HOST_REGEX = r"^([^:/?#]+://[^/?#]*)"


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("host", F.regexp_extract(F.col(url_col), HOST_REGEX, 1))


# -- O3: URL filter (pure Catalyst predicates, UrlFilter.scala:36-44) --------

def url_filter_predicate(cfg: CrawlConfig, url_col: Column) -> Column:
    pred = F.length(url_col) <= F.lit(cfg.max_url_length)
    must = None
    for p in cfg.must_match:
        c = url_col.rlike(f"^(?:{p})$")
        must = c if must is None else (must | c)
    if must is not None:
        pred = pred & must
    for p in cfg.must_not_match:
        pred = pred & ~url_col.rlike(f"^(?:{p})$")
    return pred


# -- O4/O5 first half: in-round first-discovery-wins dedup -------------------
# (PageManager.scala:107 — repeat Discover is a no-op; deterministic winner =
# lexicographically-least (crawl_depth, seq))

def dedup_in_round(cand: DataFrame) -> DataFrame:
    return (
        cand.groupBy("url")
        .agg(F.min(F.struct("crawl_depth", "seq")).alias("_ds"))
        .select("url", F.col("_ds.crawl_depth").alias("crawl_depth"),
                F.col("_ds.seq").alias("seq"))
    )


# -- O4/O5 second half: URL-seen (bloom fast path + exact anti-join) ---------

def url_seen_filter(
    cand: DataFrame,
    frontier: DataFrame,
    bloom_probe=None,
    est_candidates: int | None = None,
    broadcast_limit: int = 5_000_000,
    flag_observation=None,
) -> DataFrame:
    """Drop candidates already in the frontier (exact dedup at PageManager
    identity, UrlDeduplicator.scala:13 / PageManager.scala:19).

    With a bloom probe: rows probing negative are *provably* new and skip
    the exact check; positives (bloom fpp ≈ 1% of the batch, plus true
    repeats) are confirmed against the frontier.  The confirmation is
    shaped so the 10^10-row frontier is only ever SCANNED, never shuffled:
    broadcast the tiny maybe-set INTO the frontier scan to find actual
    hits, then anti-join the (even tinier) hit list back.  An anti-join
    with the frontier on the right would instead shuffle the whole
    frontier every round — the single biggest scale mistake available in
    this pipeline.

    The maybe-set is NOT fpp-sized: every genuinely re-discovered URL (on
    real graphs, popular URLs re-linked every round) probes positive, so
    its size is O(round's links), unbounded.  ``est_candidates`` (a free
    driver-known upper bound: last round's emitted count) guards the
    broadcast — above ``broadcast_limit`` the maybe-set is confirmed by a
    shuffled anti-join instead (both sides shuffle, bounded memory, still
    bloom-routed so fresh rows skip it entirely)."""
    seen_urls = frontier.select("url")
    if bloom_probe is None:
        # exact path without bloom: plain anti-join (fine at test scale;
        # the bloom path is the design point at frontier scale)
        return cand.join(seen_urls, "url", "left_anti")
    probed = cand.withColumn("_maybe", bloom_probe(F.xxhash64("url")))
    if flag_observation is not None:
        # probe hit/miss counters for the durable metrics table (O20 —
        # CacheMetrics.scala:53-69 analogue): rides whatever job first
        # executes this round's candidate plan (the observed node is NOT
        # double-counted by the fresh/maybe self-union — Spark reuses the
        # subtree, verified empirically)
        probed = probed.observe(
            flag_observation,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_maybe").cast("long")).alias("pos"),
        )
    fresh = probed.where(~F.col("_maybe")).drop("_maybe")
    maybe = probed.where(F.col("_maybe")).drop("_maybe")
    if est_candidates is not None and est_candidates > broadcast_limit:
        confirmed_new = maybe.join(seen_urls, "url", "left_anti")
    else:
        hits = seen_urls.join(F.broadcast(maybe.select("url")), "url")  # frontier scan, no shuffle
        confirmed_new = maybe.join(F.broadcast(hits), "url", "left_anti")
    return fresh.unionByName(confirmed_new)


# -- O7: lenient robots filter (fail-open broadcast semi-join) ---------------

def lenient_robots_filter(
    cand: DataFrame, hosts: DataFrame, now_ms: int, robots_allowed_udf,
    keep_missing_flag: bool = False,
) -> DataFrame:
    """LenientRobotsFilter.scala:66-118: known+unexpired rules → test;
    unknown/expired → pass unfiltered (fail-open).

    ``keep_missing_flag``: keep a ``_rules_missing`` boolean column (host had
    no valid rules at ``now_ms`` — the same ``valid_until > now_ms``
    predicate the refresh's ``need`` set uses).  An Observation over it on
    the candidate materialization job lets the driver prove ``need`` empty
    and skip the whole robots-refresh job in steady-state rounds."""
    hosts_valid = hosts.where(F.col("valid_until") > F.lit(now_ms)).select(
        F.col("scheme_and_authority").alias("host"), "rule_mode", "robot_rules"
    )
    j = cand.join(F.broadcast(hosts_valid), "host", "left")
    allowed = robots_allowed_udf(F.col("url"), F.col("rule_mode"), F.col("robot_rules"))
    out = j.where(F.coalesce(allowed, F.lit(True)))
    if keep_missing_flag:
        # fail-open rows (NULL rule_mode) are exactly the rows whose host is
        # unknown-or-expired, and they always survive the lenient filter
        out = out.withColumn("_rules_missing", F.col("rule_mode").isNull())
    return out.drop("rule_mode", "robot_rules")


# -- O16/O17: robots refresh for missing/expired candidate hosts -------------

def robots_refresh(
    need_hosts: DataFrame,          # (host)
    hosts: DataFrame,
    robots_corpus: DataFrame,       # (scheme_and_authority, fetch_outcome, robots_body)
    now_ms: int,
    host_outcome_udf,
) -> DataFrame:
    """→ refreshed host rows (full hosts schema incl. preserved next_free_ms).

    HostManager.scala:110-167: ok → parse+clamp (24 h), unavailable/missing →
    ALLOW_ALL 24 h, unreachable → ALLOW_NONE 1 h *unless* expired rules exist,
    which are reused with a 1 h validity bump (:149-154).
    """
    from ..kernels.robots import UNREACHABLE_RULES_LIFETIME_S

    old = hosts.select(
        F.col("scheme_and_authority").alias("host"),
        F.col("rule_mode").alias("_old_mode"),
        F.col("robot_rules").alias("_old_rules"),
        F.col("crawl_delay").alias("_old_delay"),
        F.col("next_free_ms").alias("_old_gate"),
    )
    # time-varying robots "server": from switch_ms on, the host serves
    # robots_body2 — a refresh after expiry then compiles different rules
    # (the mid-crawl rule-change scenario of the fetch-time strict filter)
    if "robots_body2" in robots_corpus.columns:
        body = F.when(
            F.col("switch_ms").isNotNull() & (F.lit(now_ms) >= F.col("switch_ms")),
            F.col("robots_body2"),
        ).otherwise(F.col("robots_body"))
    else:
        body = F.col("robots_body")
    rb = robots_corpus.select(
        F.col("scheme_and_authority").alias("host"),
        "fetch_outcome",
        body.alias("robots_body"),
    )
    j = (
        need_hosts.join(F.broadcast(rb), "host", "left")
        .join(F.broadcast(old), "host", "left")
        .withColumn("_outcome", F.coalesce(F.col("fetch_outcome"), F.lit("unavailable")))
    )
    parsed = j.withColumn(
        "_new", host_outcome_udf(F.col("_outcome"), F.col("robots_body"))
    )
    reuse = (F.col("_outcome") == "unreachable") & F.col("_old_mode").isNotNull()
    return parsed.select(
        F.col("host").alias("scheme_and_authority"),
        F.when(reuse, F.col("_old_mode")).otherwise(F.col("_new.rule_mode")).alias("rule_mode"),
        F.when(reuse, F.col("_old_rules")).otherwise(F.col("_new.robot_rules")).alias("robot_rules"),
        F.when(reuse, F.col("_old_delay")).otherwise(F.col("_new.crawl_delay")).alias("crawl_delay"),
        F.when(reuse, F.lit(now_ms + UNREACHABLE_RULES_LIFETIME_S * 1000))
        .otherwise(F.lit(now_ms) + F.col("_new.lifetime_s") * 1000)
        .cast("long")
        .alias("valid_until"),
        F.coalesce(F.col("_old_gate"), F.lit(0)).cast("long").alias("next_free_ms"),
    )


def resolve_robots_redirects(robots_corpus: DataFrame) -> DataFrame:
    """Robots.txt redirect resolution (RobotsFetcher.scala:99-110): rows
    with ``fetch_outcome='redirect'`` take their ``robots_redirect_to``
    target's record; at most ``max-redirects`` (5) hops are followed, and a
    longer chain, a loop, or a dangling target becomes Unavailable
    (:106-108 → HostManager.Unavailable → ALLOW_ALL).

    Resolved ONCE at crawler init — 5 broadcast self-joins over the
    hosts-scale corpus (the per-round refresh then joins the effective
    records).  Mirrors ``kernels.robots.resolve_robots_redirect``."""
    from ..kernels.robots import ROBOTS_MAX_REDIRECTS

    if "robots_redirect_to" not in robots_corpus.columns:
        return robots_corpus
    val_cols = [
        c for c in robots_corpus.columns
        if c not in ("scheme_and_authority", "robots_redirect_to")
    ]
    tgt = F.broadcast(
        robots_corpus.select(
            F.col("scheme_and_authority").alias("_t"),
            *[F.col(c).alias(f"_t_{c}") for c in val_cols],
            F.col("robots_redirect_to").alias("_t_next"),
        )
    )
    cur = robots_corpus.select(
        "scheme_and_authority", *val_cols,
        F.col("robots_redirect_to").alias("_next"),
    )
    for _ in range(ROBOTS_MAX_REDIRECTS):
        pending = F.col("fetch_outcome") == "redirect"
        hit = pending & F.col("_t").isNotNull()
        dangling = pending & F.col("_t").isNull()
        cur = cur.join(tgt, F.col("_next") == F.col("_t"), "left").select(
            "scheme_and_authority",
            *[
                F.when(hit, F.col(f"_t_{c}"))
                .when(
                    dangling,
                    F.lit("unavailable") if c == "fetch_outcome" else F.lit(None),
                )
                .otherwise(F.col(c))
                .alias(c)
                for c in val_cols
            ],
            F.when(hit, F.col("_t_next")).alias("_next"),
        )
    # still redirecting after max hops → Unavailable
    exceeded = F.col("fetch_outcome") == "redirect"
    return cur.select(
        "scheme_and_authority",
        *[
            F.when(
                exceeded,
                F.lit("unavailable") if c == "fetch_outcome" else F.lit(None),
            )
            .otherwise(F.col(c))
            .alias(c)
            for c in val_cols
        ],
    )


# -- O6 + O5: priority assignment + frontier insert rows ---------------------

def priority_column(cfg: CrawlConfig) -> Column:
    """Deterministic prioritizer (PrioritizationFunctions.scala:11-24; the
    reference default ThreadLocalRandom is irreproducible — SURVEY.md §7.1)."""
    if cfg.prioritizer == "xxhash64":
        return F.xxhash64(F.col("url"))
    if cfg.prioritizer == "breadth_first":
        return (-F.col("crawl_depth")).cast("long")
    if cfg.prioritizer == "depth_first":
        return F.col("crawl_depth").cast("long")
    raise ValueError(cfg.prioritizer)


def insert_rows(
    cand: DataFrame,
    hosts: DataFrame,
    rnd: int,
    cfg: CrawlConfig,
    robots_allowed_udf,
    priority_col: Column | None = None,
) -> DataFrame:
    """Frontier insert with strict-robots status (StrictRobotsFilter.scala:
    72-133 — rules are guaranteed present post-refresh; disallowed rows are
    URL-seen but marked Disallowed, never fetched).

    ``priority_col``: user-pluggable prioritizer (UserCode.scala:34-35) — a
    Column expression over (url, crawl_depth, host) returning long; None →
    the built-in chosen by cfg.prioritizer."""
    h = hosts.select(
        F.col("scheme_and_authority").alias("host"), "rule_mode", "robot_rules"
    )
    j = cand.join(F.broadcast(h), "host", "left")
    allowed = F.coalesce(
        robots_allowed_udf(F.col("url"), F.col("rule_mode"), F.col("robot_rules")),
        F.lit(True),
    )
    return j.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        "host",
        F.when(allowed, F.lit(STATUS_DISCOVERED))
        .otherwise(F.lit(STATUS_DISALLOWED))
        .alias("status"),
        F.col("crawl_depth").cast("int").alias("crawl_depth"),
        (priority_col if priority_col is not None else priority_column(cfg))
        .cast("long")
        .alias("crawl_priority"),
        F.lit(rnd).alias("discovered_round"),
        F.lit(None).cast("int").alias("fetched_round"),
        F.lit(None).cast("long").alias("fetch_order"),
        F.spark_partition_id().alias("partition_id"),
    )


# -- O8: per-host politeness budgets + salted window-rank selection ----------

def host_budgets(hosts: DataFrame, rnd: int, round_ms: int, cap: int) -> DataFrame:
    """Vectorized form of kernels/politeness.budget_for_round over the hosts
    table (HostQueue.scala:128-141 delay gate, discretized to the round)."""
    start = F.greatest(F.col("next_free_ms"), F.lit(rnd * round_ms))
    end = F.lit((rnd + 1) * round_ms)
    budget = (
        F.when(start >= end, F.lit(0))
        .when(F.col("crawl_delay") <= 0, F.lit(cap))
        .otherwise(
            F.least(
                F.floor((end - start + F.col("crawl_delay") - 1) / F.col("crawl_delay")),
                F.lit(cap),
            )
        )
    )
    return hosts.select(
        F.col("scheme_and_authority").alias("host"),
        budget.cast("int").alias("budget"),
        F.col("crawl_delay"),
        F.col("next_free_ms"),
    ).where(F.col("budget") > 0)


def politeness_select(
    discovered: DataFrame, budgets: DataFrame, n_salts: int = 0
) -> DataFrame:
    """Per-host top-budget by (crawl_priority DESC, url ASC) — the window
    re-expression of HostQueue's max-heap + delay gate (HostQueue.scala:69,
    128-141) with deterministic tie-break (SURVEY.md §7.1).

    ``n_salts`` > 1 adds a pre-rank pass partitioned by (host, salt) so one
    mega-host cannot serialize a single window partition (AQE splits the
    shuffle; the salt splits the *sort*).  Exact: top-B per host ⊆ union of
    per-salt top-Bs.
    """
    j = discovered.join(F.broadcast(budgets.select("host", "budget")), "host")
    order = [F.desc("crawl_priority"), F.asc("url")]
    if n_salts and n_salts > 1:
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        j = (
            j.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(n_salts)))
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= F.col("budget"))
            .drop("_salt", "_r1")
        )
    w = Window.partitionBy("host").orderBy(*order)
    return j.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= F.col("budget")
    )


def byte_budget_select(
    sel: DataFrame, corpus: DataFrame, byte_budget: int
) -> DataFrame:
    """Optional per-host BYTE budget (Fetcher.scala:144 bytes/s token
    bucket, reference.conf:130-145, discretized to the round): within the
    row-budget selection, keep the maximal rank-prefix whose STRICT prefix
    sum of declared sizes stays under ``byte_budget`` — a fetch starts
    while tokens remain, so the first row per host always proceeds and the
    overshoot is bounded by one response (the bucket's going-negative
    semantics).  Declared size = body_length_col (the Content-Length
    header analogue, known before body download); NULL / unknown sizes
    count 0.  Because sizes are non-negative the kept set is always a
    rank-prefix, so ranks stay dense and no re-rank is needed.

    100-TB shape: the size lookup is the same broadcast-probe scan the
    fetch join runs (selected set broadcast into the column-pruned corpus
    — payload bytes never read); the prefix sum is a per-host window over
    rank, bounded by the row cap, never the frontier."""
    sizes = corpus.select(
        "url", body_length_col(corpus).alias("_bl")
    ).join(F.broadcast(sel.select("url")), "url")
    j = sel.join(F.broadcast(sizes), "url", "left")
    w = (
        Window.partitionBy("host")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(
        F.sum(F.coalesce(F.col("_bl"), F.lit(0)).cast("long")).over(w),
        F.lit(0),
    )
    return (
        j.withColumn("_cum", cum)
        .where(F.col("_cum") < byte_budget)
        .drop("_bl", "_cum")
    )


def assign_fetch_order(
    sel: DataFrame, fetch_seq: int, parts: int = 16,
    n_hosts_hint: int | None = None,
) -> DataFrame:
    """Global deterministic order = (host ASC, rank ASC) flattened onto the
    cross-round fetch counter, via a TWO-LEVEL prefix sum over the per-host
    counts:

    1. range-partition the counts by host (range partition p < p+1 ⇒ every
       host in p sorts before every host in p+1), cumsum WITHIN each
       partition — parallel across partitions;
    2. a single-partition pass over the ≤``parts`` per-partition totals
       (bounded by the partition count, NOT the host count) produces each
       partition's starting offset.

    Round 1 ran one global ``Window.orderBy(host)`` — one task sorting one
    row per active host: fine at 512 hosts, a serial bottleneck at 10^7-10^8
    hosts.  Now the only single-partition data is ``parts`` total rows.
    URL rows never enter any ordered window either way.

    ``n_hosts_hint``: driver-known upper bound on the active host count
    (e.g. the hosts-table size riding the previous commit's Observation).
    When it proves the per-host count table small (≤ ~1M 2-column rows),
    the range partitioning — whose RangePartitioner runs a hidden
    SAMPLING job every round — is skipped for a single-partition cumsum:
    identical offsets (same (host ASC) order, same math), one fewer job
    and three fewer stages of fixed latency per round.  Large/unknown
    host counts keep the scalable two-level path."""
    counts = sel.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
    if n_hosts_hint is not None and n_hosts_hint <= 1_000_000:
        w_all = Window.orderBy("host").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.coalesce(1).select(
            "host", F.coalesce(F.sum("_n").over(w_all), F.lit(0)).alias("_offset")
        )
        return sel.join(F.broadcast(offsets), "host").withColumn(
            "fetch_order",
            (F.lit(fetch_seq) + F.col("_offset") + F.col("rank") - 1).cast("long"),
        ).drop("_offset")
    ranged = counts.repartitionByRange(parts, "host").withColumn(
        "_pid", F.spark_partition_id()
    )
    w_cum = (
        Window.partitionBy("_pid")
        .orderBy("host")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("_pid")
    within = ranged.select(
        "host",
        "_pid",
        F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_cum"),
        F.sum("_n").over(w_tot).alias("_ptotal"),
    )
    w_p = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    pofs = (
        within.select("_pid", "_ptotal")
        .distinct()
        .select("_pid", F.coalesce(F.sum("_ptotal").over(w_p), F.lit(0)).alias("_pofs"))
    )
    offsets = within.join(F.broadcast(pofs), "_pid").select(
        "host", (F.col("_cum") + F.col("_pofs")).alias("_offset")
    )
    return sel.join(F.broadcast(offsets), "host").withColumn(
        "fetch_order",
        (F.lit(fetch_seq) + F.col("_offset") + F.col("rank") - 1).cast("long"),
    ).drop("_offset")


def advance_gates(
    hosts: DataFrame, fetched_counts: DataFrame, rnd: int, round_ms: int
) -> DataFrame:
    """kernels/politeness.advance_gate vectorized: gate advances only for
    hosts that actually fetched (the reference gate also advances only on
    dequeue — HostQueue.scala:131)."""
    fc = fetched_counts.select(
        F.col("host").alias("scheme_and_authority"), F.col("_n").alias("_fetched")
    )
    j = hosts.join(F.broadcast(fc), "scheme_and_authority", "left")
    start = F.greatest(F.col("next_free_ms"), F.lit(rnd * round_ms))
    new_gate = F.when(
        F.col("_fetched").isNotNull(),
        start + F.col("_fetched") * F.greatest(F.col("crawl_delay"), F.lit(0)),
    ).otherwise(F.col("next_free_ms"))
    return j.withColumn("next_free_ms", new_gate.cast("long")).drop("_fetched")


# -- O10-O14: fetch join + parse/emit ----------------------------------------

PARSEABLE_CONTENT_TYPES = ("text/html", "application/xhtml+xml")  # Fetcher.scala:31


def body_length_col(df: DataFrame) -> Column:
    """Canonical body size for every fetch-side gate (Fetcher.scala:142
    LengthLimitExceeded): the content_length metadata column when present
    (keeps the binary payload column out of the emit-path scan — measured
    ~2× scan cost otherwise), else length(bytes).  The emit gate AND the
    default payload consumer both derive from THIS one expression, so link
    expansion and payload accounting can never diverge on size; an actually
    truncated transfer is still caught by the consumer's decode/pixel
    checks, which run on the real bytes.  A graph-only corpus (neither
    column) has no known sizes: a NULL length, which every gate reads as
    "not too big"."""
    if "content_length" in df.columns:
        return F.col("content_length")
    if "bytes" in df.columns:
        return F.when(F.col("bytes").isNotNull(), F.length(F.col("bytes")))
    return F.lit(None).cast("long")


def _nofollow_col(c: Column) -> Column:
    """X-Robots-Tag / meta-robots token test (RobotsHeaderFilter.scala:24-38,
    HtmlParser.scala:65-72): comma-split, trimmed, case-insensitive equality
    — pure Catalyst higher-order function."""
    return F.coalesce(
        F.exists(
            F.split(c, ","), lambda t: F.lower(F.trim(t)) == F.lit("nofollow")
        ),
        F.lit(False),
    )


def fetch_and_emit(
    sel: DataFrame, corpus: DataFrame, cfg: CrawlConfig, resolve_redirect_udf
) -> tuple[DataFrame, DataFrame]:
    """→ (fetched rows joined to payloads, emitted next-round candidates).

    Fetch semantics (Fetcher.scala:108-188): 3xx re-injects the resolved
    Location at the SAME depth (:121-131); 4xx/5xx no parse (:110-118);
    oversized body → LengthLimitExceeded, no parse (:142,168-170); only
    text/html|xhtml parsed (:31,160-162) and only below the depth limit
    (CrawlDepthLimiter.scala:22-28 — the limit cuts EXPANSION, not fetching).
    Children emitted at depth+1 (HtmlParser.scala:45) with deterministic
    seq = parent_fetch_order*1e6 + (0 | 1+link_pos).

    Join shape: the round's fetch set is tiny relative to the payload
    table, so broadcast the FETCH SET into the payload scan (a left join
    the other way cannot broadcast its big right side and would sort-merge
    shuffle the whole payload table every round).  Inner semantics suffice:
    a fetch-set URL missing from the corpus (dead link) is still marked
    Processed by the status MERGE — it just fetches nothing and emits
    nothing, exactly the oracle's behavior for page=None.
    """
    fetched = corpus.join(F.broadcast(sel), "url")
    sc = F.col("status_code")

    redirects = (
        fetched.where(
            sc.isNotNull()
            & (sc >= 300) & (sc < 400)
            & F.col("redirect_to").isNotNull()
        )
        .withColumn("_red", resolve_redirect_udf(F.col("redirect_to"), F.col("url")))
        .where(F.col("_red").isNotNull())
        .select(
            F.col("_red").alias("url"),
            F.col("crawl_depth"),
            (F.col("fetch_order") * 1_000_000).cast("long").alias("seq"),
        )
    )

    # body-size gate (Fetcher.scala:142,168-170) — shared expression with
    # the payload consumer (body_length_col) so the two gates agree
    body_len = body_length_col(fetched)
    too_big = body_len.isNotNull() & (body_len > F.lit(cfg.max_content_length))
    gate = (
        (sc == 200)
        & ~too_big
        & F.col("content_type").isin(*PARSEABLE_CONTENT_TYPES)
        & (F.col("crawl_depth") < F.lit(cfg.max_crawl_depth))
        & ~_nofollow_col(F.col("x_robots_tag"))
    )
    if cfg.parse_html:
        # live HTML parse: links come out of the body bytes via the kernel
        # UDF (which also enforces the meta-robots nofollow document kill —
        # HtmlParser.scala:65-72 — so no separate meta column gate here)
        from .udfs import extract_links_udf

        out_links = extract_links_udf(F.col("body_html"), F.col("url"))
    else:
        gate = gate & ~_nofollow_col(F.col("meta_robots"))
        out_links = F.col("out_links")
    links = fetched.where(gate).select(
        F.col("crawl_depth"),
        F.col("fetch_order"),
        F.posexplode_outer(out_links).alias("_pos", "_link"),
    ).where(F.col("_link").isNotNull()).select(
        F.col("_link").alias("url"),
        (F.col("crawl_depth") + 1).cast("int").alias("crawl_depth"),
        (F.col("fetch_order") * 1_000_000 + 1 + F.col("_pos")).cast("long").alias("seq"),
    )
    return fetched, redirects.unionByName(links)


# -- O5/O15/O18: status MERGE -------------------------------------------------

def merge_fetch_statuses(
    frontier: DataFrame, sel: DataFrame, rnd: int, disallow: DataFrame | None = None
) -> DataFrame:
    """REFERENCE-ONLY copy-on-write merge kernel — NOT on the engine's
    commit path since the merge-on-read rewrite (the round loop writes
    per-(bucket, round) update deltas and reconciles lazily; see
    SparkCrawler._commit_round/_reconciled_frontier, certified by the
    o18_status_merge gate entry).  Kept as a public building block for
    one-shot CoW merges over externally-managed frontier tables.

    MERGE the round's fetch set into the frontier: Discovered→Processed +
    fetched_round + fetch_order (PageManager.scala:139 status update batch,
    FetchResultConsumer.scala:34-50 default consumer marks Processed).  The
    update side is one round's fetch set — broadcast against the big table.

    ``disallow``: urls flipped Discovered→Disallowed by the fetch-time
    strict re-evaluation (StrictRobotsFilter.scala:128-131 SetStatus) —
    disjoint from the fetch set by construction (they were excluded from
    selection), applied in the same single pass."""
    upd = sel.select("url", F.col("fetch_order").alias("_fo"))
    j = frontier.join(F.broadcast(upd), "url", "left")
    hit = F.col("_fo").isNotNull()
    status = F.when(hit, F.lit(STATUS_PROCESSED))
    if disallow is not None:
        j = j.join(
            F.broadcast(disallow.select("url", F.lit(True).alias("_dis"))),
            "url",
            "left",
        )
        status = status.when(
            F.coalesce(F.col("_dis"), F.lit(False)), F.lit(STATUS_DISALLOWED)
        )
    return j.select(
        "url",
        "url_hash",
        "host",
        status.otherwise(F.col("status")).alias("status"),
        "crawl_depth",
        "crawl_priority",
        "discovered_round",
        F.when(hit, F.lit(rnd)).otherwise(F.col("fetched_round")).cast("int").alias("fetched_round"),
        F.coalesce(F.col("_fo"), F.col("fetch_order")).alias("fetch_order"),
        "partition_id",
    )
