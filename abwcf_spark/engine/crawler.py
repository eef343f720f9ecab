"""The PySpark-native crawl engine: deterministic micro-batch round loop.

This is the top-level re-expression of ABWCF's actor topology
(``/root/reference/src/main/scala/abwcf/actors/Crawler.scala:40-145``) as a
driver-side round loop over three DataFrames:

- ``frontier``   — the pages table (url-keyed, 10^10-row design point;
                   SlickPageRepository.scala:21 schema + lineage columns),
- ``hosts``      — robots rules + politeness gates (1 row/host, broadcast),
- ``candidates`` — the transient per-round discovery set.

One round = one synchronous barrier replacing all actor mailbox hops:

    candidates → normalize → url-filter → in-round dedup → URL-seen
    (bloom + anti-join) → lenient robots → robots refresh → insert
    (strict robots sets Discovered|Disallowed) → politeness window-rank
    → fetch-join payloads → parse/emit → MERGE statuses → next round

Determinism: every ordering-sensitive output (fetch_order, child seq) comes
from explicit sorts/windows, never partition order, so the engine reproduces
the pure-Python oracle (testing/oracle.py) bit-for-bit — crawl order, final
URL-seen membership, priorities, depths.

Durability: every ``checkpoint_interval`` rounds the three tables + bloom +
a manifest (round, fetch_seq, metrics) are snapshotted to
``checkpoint_dir/round=N`` (round-numbered snapshots ≙ Iceberg snapshot ids
— SURVEY.md §3.3).  ``resume=True`` restarts from the newest complete
manifest; a killed run resumes byte-identically (north_rule), verified in
``tests/test_resume.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import (
    STATUS_DISALLOWED,
    STATUS_DISCOVERED,
    STATUS_PROCESSED,
    CrawlConfig,
)
from ..kernels.bloom_shards import ShardedBloom
from ..kernels.cuckoo_shards import ShardedCuckoo
from ..operators.round_ops import (
    advance_gates,
    assign_fetch_order,
    byte_budget_select,
    dedup_in_round,
    fetch_and_emit,
    host_budgets,
    insert_rows,
    lenient_robots_filter,
    politeness_select,
    robots_refresh,
    url_filter_predicate,
    url_seen_filter,
    with_host,
)
from ..operators.udfs import (
    PAYLOAD_CHECK_SCHEMA,
    make_host_outcome_udf,
    make_normalize_udf,
    resolve_redirect_udf,
    robots_allowed_udf,
    validate_payload_batches,
)

FRONTIER_SCHEMA = (
    "url string, url_hash long, host string, status string, crawl_depth int, "
    "crawl_priority long, discovered_round int, fetched_round int, "
    "fetch_order long, partition_id int"
)
HOSTS_SCHEMA = (
    "scheme_and_authority string, rule_mode string, robot_rules string, "
    "crawl_delay long, valid_until long, next_free_ms long"
)
CANDIDATES_SCHEMA = "url string, crawl_depth int, seq long"
FRONTIER_COLS = [f.split()[0] for f in FRONTIER_SCHEMA.split(", ")]


def adaptive_bucket_count(rows: int) -> int:
    """Frontier bucket sizing rule (documented for operators): one bucket
    per ~2M rows (a few hundred MB of frontier metadata per bucket file —
    healthy parquet file sizes and enough parallel grain for compaction),
    rounded to a power of two, clamped to [32, 65536].  At the 10^10-row
    design point this yields 8192 buckets; tiny test tables stay at the
    32 floor.  Applied at compaction time: bucket identity only has to be
    stable within one delta-chain epoch, so compaction is the natural
    re-bucketing point."""
    import math

    target = max(rows / 2_000_000, 1.0)
    return int(min(max(2 ** math.ceil(math.log2(target)), 32), 65536))


def metrics_stage_rows(m: dict) -> list[dict]:
    """One round's metric dict → long-format (round, stage, passed,
    rejected, wall_ms) rows for the durable metrics table — the queryable
    analogue of the reference's per-stage OTel counters
    (``metrics/FilterMetrics.scala:176-182`` passed/rejected per filter,
    ``FetcherMetrics.scala:130-145`` fetch counters).  Pure formatting: the
    counts themselves come from the engine's Observations (or, for the
    oracle fixture, from the pure-python simulator).  Every engine round
    carries every stage count; a stage emits no row only when its keys are
    optional and absent (bloom probe before the filter holds a key,
    ``hosts_rows`` right after a resume, cuckoo counters, purge dicts)."""
    rnd = int(m["round"])
    rows: list[dict] = []

    def add(stage, passed, rejected=0, wall_key=None):
        if passed is None:
            return
        wall = m.get(wall_key) if wall_key else None
        rows.append(dict(
            round=rnd, stage=stage, passed=int(passed), rejected=int(rejected),
            wall_ms=int(wall * 1000) if wall is not None else None,
        ))

    c, n = m.get("candidates"), m.get("normalized")
    if c is not None and n is not None:
        add("normalize", n, c - n, "t_cand")
    nu = m.get("new_urls")
    if n is not None and nu is not None:
        add("url_seen", nu, n - nu)
    # bloom probe hit/miss (CacheMetrics.scala:53-69 analogue): passed =
    # negatives (provably new, skipped the exact confirm), rejected =
    # positives (true repeats + false positives, fell through to confirm)
    bp, bpos = m.get("bloom_probed"), m.get("bloom_pos")
    if bp is not None and bpos is not None:
        add("cache_bloom_probe", bp - bpos, bpos)
    lp = m.get("lenient_passed")
    if nu is not None and lp is not None:
        add("lenient_robots", lp, nu - lp)
    add("robots_fetch", m.get("robots_fetched"), 0, "t_robots")
    ins = m.get("inserted")
    if ins is not None:
        add("strict_insert", ins - m.get("disallowed", 0),
            m.get("disallowed", 0), "t_insert")
    add("fetch", m.get("fetched"), 0, "t_select")
    add("emit", m.get("emitted"), 0, "t_commit")
    # entity-count gauges (value in `passed`, rejected 0):
    # ClusterNodeMetricsCollector.scala entity counts / CacheMetrics sizes
    add("gauge_hosts_rows", m.get("hosts_rows"))
    add("gauge_frontier_rows", m.get("frontier_rows"))
    # cuckoo seen-filter eviction/deletion counters (CacheMetrics.scala:
    # 53-69 exports hits, misses AND evictions; the bloom never evicts, so
    # these keys only exist on cuckoo runs / purge calls)
    add("cache_seen_evictions", m.get("seen_kicks"))
    add("cache_seen_deletes", m.get("seen_deletes"))
    add("seen_purge", m.get("purged"))
    return rows


def _default_payload_consumer(cfg: CrawlConfig):
    """The built-in fetch-result consumer (FetchResultConsumer.scala:34-50
    default impl + the graft's payload invariant): decode image bytes and
    validate pixels/phash/caption for every well-formed 200 response."""

    def consume(fetched: DataFrame) -> DataFrame:
        from ..operators.round_ops import body_length_col

        # size gate = the SAME expression the emit gate uses, so a page can
        # never pass one gate and fail the other (link expansion and payload
        # accounting stay in lockstep); truncation is caught by the decode.
        # NULL-length rows mirror the emit gate's `isNotNull & > max` shape
        # (NULL → NOT too big): a corpus with bytes but no content_length
        # must not silently skip validation while still emitting links.
        body_len = body_length_col(fetched)
        return (
            fetched.where(
                (F.col("status_code") == 200)
                & F.col("bytes").isNotNull()
                & (body_len.isNull() | (body_len <= F.lit(cfg.max_content_length)))
            )
            .select("url", "bytes", "image_id", "w", "h", "fmt", "caption", "phash")
            .mapInPandas(validate_payload_batches, PAYLOAD_CHECK_SCHEMA)
        )

    return consume


@dataclass
class CrawlResult:
    frontier: DataFrame
    hosts: DataFrame
    rounds: int
    fetch_seq: int
    metrics: list = field(default_factory=list)
    payload_failures: int = 0

    def frontier_pdf(self):
        """Sorted pandas frontier (minus lineage cols) for oracle comparison."""
        return (
            self.frontier.drop("partition_id")
            .orderBy("url")
            .toPandas()
        )

    def crawl_order(self) -> list:
        rows = (
            self.frontier.where(F.col("fetch_order").isNotNull())
            .select("fetch_order", "url")
            .orderBy("fetch_order")
            .collect()
        )
        return [(int(r.fetch_order), r.url) for r in rows]


class SparkCrawler:
    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        robots_corpus: DataFrame,
        cfg: CrawlConfig = CrawlConfig(),
        checkpoint_dir: str | None = None,
        checkpoint_interval: int = 5,
        bloom_capacity: int = 1 << 20,
        bloom_fpp: float = 0.01,
        use_bloom: bool = True,
        bloom_shards: int = 16,
        seen_filter: str = "bloom",
        n_salts: int = 0,
        validate_payloads: bool = False,
        collect_metrics: bool = True,
        prioritizer=None,
        fetch_consumer=None,
        frontier_buckets: int | None = None,
        seen_broadcast_limit: int = 5_000_000,
    ):
        """User plug-points (api/UserCode.scala:34-35, :68-69):

        - ``prioritizer`` — Column expression over (url, crawl_depth, host)
          → long crawl_priority; replaces the built-in cfg.prioritizer.
        - ``fetch_consumer`` — DataFrame→DataFrame callback applied to each
          round's fetched rows (payload columns joined in); must return a
          (url, payload_ok boolean) shape — failed rows are counted into
          ``payload_failures``.  Default (with validate_payloads=True): the
          image decode + PSNR/phash/caption validator.

        ``collect_metrics`` is ignored (per-stage counts always ride
        Observations on jobs the round runs anyway); it is kept for the
        callers that still pass it, ``bench.py`` and ``perfbench/worker.py``.
        """
        if seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(f"seen_filter must be bloom|cuckoo: {seen_filter}")
        self.spark = spark
        self.cfg = cfg
        self.corpus = corpus
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_interval = checkpoint_interval
        self.use_bloom = use_bloom
        self.work_dir = checkpoint_dir or tempfile.mkdtemp(prefix="abwcf-rounds-")
        from ..operators.round_ops import resolve_robots_redirects

        # robots.txt redirect chains resolve ONCE here (≤5 hops, RFC 9309 /
        # RobotsFetcher.scala:99-110); per-round refreshes join the
        # effective records.  The resolution is 5 chained broadcast
        # self-joins over the hosts-scale corpus — MATERIALIZED once via a
        # parquet round-trip (not localCheckpoint: real file stats keep
        # Catalyst's size estimates sane across rounds) so the per-round
        # robots_refresh job never re-executes the chain.
        resolved = resolve_robots_redirects(robots_corpus)
        if resolved is not robots_corpus:
            rdir = os.path.join(self.work_dir, "robots_resolved")
            # resume reuses the existing copy ONLY when the _SUCCESS marker
            # proves the initial write committed — a kill mid-init leaves a
            # partial directory, and silently reading it would drop hosts
            # (which then fail-open through the lenient filter)
            if os.path.isdir(rdir) and not os.path.isfile(
                os.path.join(rdir, "_SUCCESS")
            ):
                shutil.rmtree(rdir)
            if not os.path.isdir(rdir):
                resolved.write.parquet(rdir)
            resolved = spark.read.parquet(rdir)
        self.robots_corpus = resolved
        # executor-side sharded seen-filter (the north rule's "bloom/cuckoo-
        # filter URL-seen set"): the driver holds only the O(K) shard-version
        # map; the filter arrays live as versioned files next to the frontier
        # snapshots and are read/written by tasks.  "bloom" (default) is the
        # append-only fast path; "cuckoo" (kernels/cuckoo_shards.py) adds
        # fingerprint DELETION at a slower insert rate — same no-false-
        # negative probe contract either way.
        _filter_cls = ShardedBloom if seen_filter == "bloom" else ShardedCuckoo
        self.bloom = (
            _filter_cls(os.path.join(self.work_dir, "bloom"), bloom_capacity,
                        bloom_fpp, n_shards=bloom_shards)
            if use_bloom else None
        )
        self._last_bloom_versions: dict[int, int] = {}
        self.seen_broadcast_limit = seen_broadcast_limit
        self.n_salts = n_salts
        self.validate_payloads = validate_payloads
        self.prioritizer = prioritizer
        self.fetch_consumer = fetch_consumer
        if fetch_consumer is None and validate_payloads:
            self.fetch_consumer = _default_payload_consumer(cfg)

        self.round_ms = int(cfg.round_seconds * 1000)
        self._parts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
        self._normalize_udf = make_normalize_udf(cfg)
        self._host_outcome_udf = make_host_outcome_udf(cfg)

        # merge-on-read frontier storage (the Iceberg MoR analogue): each
        # round appends per-(bucket, round) DELTA files only —
        #   fr_ins: this round's newly inserted rows (status Discovered or
        #           born-Disallowed); a url is inserted at most once ever
        #           (URL-seen invariant),
        #   fr_upd: this round's status updates (Discovered→Processed with
        #           fetched_round/fetch_order, or Discovered→Disallowed from
        #           the fetch-time strict re-eval); statuses are terminal, so
        #           a url is updated at most once ever.
        # Reads reconcile latest-wins on url WITHOUT a frontier shuffle:
        # update rows win outright (they are the only second version a url
        # can have), so full view = data anti-join upd.urls ∪ upd — and the
        # upd side is bounded by the rows updated since the last compaction,
        # a driver-known count that gates a broadcast anti-join.  When the
        # delta chain exceeds ``compact_after`` rounds, the reconciled table
        # is compacted into a fresh base (bounding read amplification; the
        # amortized compaction IO is O(frontier/compact_after) per round).
        # Per-round write IO is O(round delta rows), never O(frontier) — the
        # reference's analogue is row-level UPDATE ... WHERE url
        # (SlickPageRepository.scala:39).  Buckets (pmod(url_hash, K)) size
        # the files and keep per-bucket selective compaction open; K adapts
        # at compaction time to ~rows/2M (clamped) unless pinned by
        # ``frontier_buckets``.
        self._adaptive_buckets = frontier_buckets is None
        self.n_buckets = 32 if frontier_buckets is None else max(int(frontier_buckets), 1)
        self.compact_after = 8
        # compaction policy (per-bucket selective, Iceberg/LSM-style):
        # a compaction pass MAJOR-compacts (reconciled rewrite) only buckets
        # whose live delta bytes exceed major_frac of their base bytes, and
        # MINOR-consolidates every other bucket's delta rows into one
        # consolidated delta pair (O(live delta rows) — base untouched);
        # a full major (all buckets, adaptive re-bucket) is forced when the
        # partial-base generation list reaches max_bases
        self.major_frac = 0.25
        self.max_bases = 4
        # base GENERATIONS, oldest→newest; each holds a subset of buckets
        # (newest dir containing bucket=b wins for b — per-bucket epochs are
        # derived from the round-numbered paths, never stored separately)
        self.chain_base: list[str] = []
        self.chain_ins: list[str] = []
        self.chain_upd: list[str] = []
        self.upd_rows = 0          # rows across chain_upd (gates broadcast)
        self.frontier_rows = 0     # total inserted rows (sizes adaptive K)
        self._hosts_min_valid: int | None = None  # earliest rules expiry
        self._manifest_keep: set[str] = set()  # round dirs the last manifest needs

        self.frontier: DataFrame = spark.createDataFrame([], FRONTIER_SCHEMA)
        # chain read views (rebuilt per round from the parquet chain):
        # _data = base + insert deltas (every url exactly once, insert-time
        # content); _upd = update deltas (terminal second versions)
        self._data: DataFrame = self.frontier
        self._upd: DataFrame = spark.createDataFrame([], FRONTIER_SCHEMA)
        self.hosts: DataFrame = spark.createDataFrame([], HOSTS_SCHEMA)
        self.candidates: DataFrame = spark.createDataFrame([], CANDIDATES_SCHEMA)
        self.rnd = 0
        self.fetch_seq = 0
        self.metrics: list[dict] = []
        self.payload_failures = 0
        self._commit_laps: dict[str, float] = {}  # per-commit lap timings
        # (reset by _commit_round; initialized here so _maybe_compact can
        # also be driven standalone, e.g. scripts/bench_buckets.py)
        # hosts-table row count as of the last commit — EXACTLY 0 at fresh
        # start (the hosts table always begins empty), refreshed by the
        # hosts-commit Observation each round, and deliberately reset to
        # None on resume (unknown until the first post-resume commit)
        self._last_hosts_rows: int | None = 0
        self._kicks_reported = 0  # cuckoo kick counter at the last round
        self._leaf_rows_memo: dict[str, int] = {}  # see _leaf_rows
        self._bg = ThreadPoolExecutor(max_workers=1)  # bloom-update overlap
        self._bloom_future = None  # in-flight shard update (joined per round)

    # ------------------------------------------------------------- lifecycle
    def close(self) -> None:
        """Join any in-flight bloom shard update and release the background
        executor (idempotent; also runs via context-manager exit / GC)."""
        self._join_bg()
        self._bg.shutdown(wait=True)

    def _join_bg(self) -> None:
        fut, self._bloom_future = self._bloom_future, None
        if fut is not None:
            fut.cancel()
            try:
                fut.result()  # join if already running (bounded job)
            except BaseException:
                # CancelledError subclasses BaseException (py3.8+): a
                # successfully-cancelled pending future must not mask the
                # original error on the failed-step path, nor fail close()
                pass

    def __enter__(self) -> "SparkCrawler":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __del__(self) -> None:
        try:
            self._bg.shutdown(wait=False)
        except Exception:
            pass

    # ------------------------------------------------------------------ run
    def seed(self, seeds: DataFrame) -> None:
        """O1 (Crawler.scala:156-159): seeds enter as depth-0 candidates with
        their list position as the deterministic discovery sequence."""
        self.candidates = seeds.select(
            F.col("url").cast("string"),
            F.lit(0).cast("int").alias("crawl_depth"),
            F.col("seq").cast("long"),
        )

    def run(
        self,
        seeds: DataFrame | None = None,
        resume: bool = False,
        stop_after_round: int | None = None,
        max_rounds: int | None = None,
    ) -> CrawlResult:
        if resume:
            self._restore()
        elif seeds is not None:
            self.seed(seeds)
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        done = False
        while self.rnd < limit and not done:
            try:
                done = self._step()
            except BaseException:
                # a failed step must not leave the bloom shard update running
                # detached against session state the caller may tear down
                self._join_bg()
                raise
            if self.checkpoint_dir and (
                self.rnd % self.checkpoint_interval == 0 or done
            ):
                self._checkpoint()
            if stop_after_round is not None and self.rnd > stop_after_round:
                break
        if self.checkpoint_dir and not done and stop_after_round is None:
            self._checkpoint()
        return CrawlResult(
            self.frontier,
            self.hosts,
            self.rnd,
            self.fetch_seq,
            self.metrics,
            self.payload_failures,
        )

    # ----------------------------------------------------------------- step
    def _mat(self, df: DataFrame) -> DataFrame:
        """Materialize an intermediate reused by several actions within the
        round: eager localCheckpoint flattens the plan, so downstream
        actions neither re-analyze the round DAG nor re-execute its
        broadcast exchanges (lazy persist measured ~40% slower per round for
        exactly that reason).  Cross-round state never flows through here —
        _commit_round's parquet snapshot is the round boundary (and resets
        Catalyst size stats, see there)."""
        return df.localCheckpoint(eager=True)

    def _upd_url_side(self) -> DataFrame:
        """The update-delta url set, broadcast when the driver-known row
        count (exact, tracked from commit Observations) fits the limit —
        the MoR anti-join then stays a frontier SCAN, never a shuffle."""
        u = self._upd.select("url")
        return F.broadcast(u) if self.upd_rows <= self.seen_broadcast_limit else u

    def _discovered_view(self) -> DataFrame:
        """Reconciled Discovered rows: Discovered at insert time minus urls
        with a (terminal) update — update rows are never Discovered, so the
        anti-join against the bounded update side is a complete reconcile."""
        disc = self._data.where(F.col("status") == STATUS_DISCOVERED)
        if self.upd_rows == 0:
            return disc
        return disc.join(self._upd_url_side(), "url", "left_anti")

    def _reconciled_frontier(self) -> DataFrame:
        """Full latest-wins view: a url has at most two versions ever (its
        insert and at most one terminal update), so update rows win outright
        and no per-url window/shuffle is needed."""
        if self.upd_rows == 0:
            return self._data
        return self._data.join(self._upd_url_side(), "url", "left_anti").unionByName(
            self._upd
        )

    def _step(self) -> bool:
        import time as _time

        _t0 = _time.time()

        def _lap(tag):
            nonlocal _t0
            t = _time.time()
            m[f"t_{tag}"] = round(t - _t0, 3)
            _t0 = t

        cfg, rnd = self.cfg, self.rnd
        now_ms = rnd * self.round_ms
        m: dict = {"round": rnd}
        # per-stage counts for the metrics table (O20): Observations that
        # ride the candidate materialization below, at zero extra jobs
        count = F.count(F.lit(1)).alias("n")
        cand_obs = Observation(f"cand-r{rnd}")
        norm_obs = Observation(f"norm-r{rnd}")
        new_obs = Observation(f"new-r{rnd}")

        # O2 normalize + O3 filter (pandas UDF + Catalyst predicates)
        cand = (
            self.candidates.observe(cand_obs, count)
            .withColumn("_norm", self._normalize_udf(F.col("url")))
            .where(F.col("_norm").isNotNull())
            .select(F.col("_norm").alias("url"), "crawl_depth", "seq")
        )
        cand = cand.where(url_filter_predicate(cfg, F.col("url"))).observe(
            norm_obs, count
        )

        # O4/O5 dedup: in-round first-discovery-wins + URL-seen
        cand = dedup_in_round(cand)
        probe = bloom_obs = None
        if self.bloom is not None and self.bloom.n_added > 0:
            probe = self.bloom.make_probe_udf()
            bloom_obs = Observation(f"bloom-r{rnd}")
        # free upper bound on this round's candidate count = last round's
        # emitted count — gates the maybe-set broadcast without an extra job
        est = self.metrics[-1].get("emitted") if self.metrics else None
        # URL-seen membership needs only the insert-side chain (_data):
        # update deltas never introduce urls, so the MoR reconcile anti-join
        # is skipped entirely on this hot path
        cand = url_seen_filter(
            cand, self._data, probe,
            est_candidates=est, broadcast_limit=self.seen_broadcast_limit,
            flag_observation=bloom_obs,
        ).observe(new_obs, count)

        # O7 lenient robots (fail-open, hosts as of round start).  The
        # _rules_missing flag rides the SAME materialization job as an
        # Observation: zero flagged rows proves the refresh `need` set has
        # no candidate-side hosts, so with nothing expirable either
        # (maybe_expired below) the whole robots-refresh job is skipped —
        # in steady-state rounds (all hosts known, rules unexpired, the
        # common case between TTL expiries at any scale) this removes one
        # fixed-latency Spark job per round from the serial path.
        cand = with_host(cand)
        cand = lenient_robots_filter(
            cand, self.hosts, now_ms, robots_allowed_udf, keep_missing_flag=True
        )
        need_obs = Observation(f"need-r{rnd}")
        cand = self._mat(
            cand.observe(
                need_obs,
                F.sum(F.col("_rules_missing").cast("long")).alias("miss"),
                count,
            )
        ).drop("_rules_missing")
        g = need_obs.get
        n_rules_missing = int(g["miss"] or 0)
        m["candidates"] = int(cand_obs.get["n"])
        m["normalized"] = int(norm_obs.get["n"])
        m["new_urls"] = int(new_obs.get["n"])
        if bloom_obs is not None:
            b = bloom_obs.get
            m["bloom_probed"] = int(b["n"])
            m["bloom_pos"] = int(b["pos"] or 0)
        m["lenient_passed"] = int(g["n"])
        _lap("cand")

        # O16/O17 robots refresh-on-ACCESS (HostManager.scala:187-189): a
        # host is "accessed" when it has new candidates this round OR holds
        # Discovered frontier rows awaiting fetch — BOTH trigger a refetch
        # once rules expire, so a page discovered in round k and fetched in
        # round k+n is gated by CURRENT rules, not round-k rules.
        hosts_valid = self.hosts.where(F.col("valid_until") > F.lit(now_ms))
        access_hosts = cand.select("host").distinct()
        # a host holding Discovered rows is "accessed" too — but it can only
        # enter `need` once its rules EXPIRE (it always has a hosts row from
        # its own insert round).  min(valid_until) rides the hosts commit
        # write as an Observation, so when nothing can be expired the
        # Discovered-host scan (and its reconcile broadcast) is skipped —
        # exact short-circuit, not a heuristic.
        maybe_expired = (
            self._hosts_min_valid is None or now_ms >= self._hosts_min_valid
        )
        if n_rules_missing == 0 and not maybe_expired:
            # PROVABLY nothing to refresh: every candidate host had valid
            # rules (the _rules_missing Observation above — same
            # valid_until > now_ms predicate as `need`), and no host row
            # anywhere can be expired (exact min(valid_until) short-circuit
            # riding the hosts commit).  need == ∅, so the refresh job —
            # and its fixed per-round latency — is skipped outright.
            refreshed = None
            n_refreshed = 0
            hosts_next = self.hosts
        else:
            if rnd > 0 and maybe_expired:
                access_hosts = access_hosts.unionByName(
                    self._discovered_view().select("host").distinct()
                ).distinct()
            need = access_hosts.join(
                hosts_valid.select(F.col("scheme_and_authority").alias("host")),
                "host",
                "left_anti",
            )
            # counts ride as Observations on jobs that run anyway (the
            # localCheckpoint / write actions) — a dedicated .count() job per
            # round was a measurable slice of the core-count-invariant driver
            # latency that capped full-loop scaling efficiency
            refr_obs = Observation(f"refreshed-r{rnd}")
            refreshed = self._mat(
                robots_refresh(
                    need, self.hosts, self.robots_corpus, now_ms,
                    self._host_outcome_udf
                ).observe(refr_obs, F.count(F.lit(1)).alias("n"))
            )
            n_refreshed = int(refr_obs.get["n"])
            hosts_next = self.hosts.join(
                refreshed.select("scheme_and_authority"),
                "scheme_and_authority", "left_anti"
            ).unionByName(refreshed)
        m["robots_fetched"] = n_refreshed

        # fetch-time strict robots (StrictRobotsFilter.scala:72-133): rules
        # changed only for hosts refreshed THIS round, so only their
        # Discovered rows need re-evaluation (delta-scaled, not O(frontier));
        # rows now disallowed are excluded from selection and flipped to the
        # terminal Disallowed status in this round's merge.
        newly_dis = None
        if n_refreshed > 0 and rnd > 0:
            rules = refreshed.select(
                F.col("scheme_and_authority").alias("host"), "rule_mode", "robot_rules"
            )
            reeval = self._discovered_view().join(F.broadcast(rules), "host")
            nd_obs = Observation(f"newly-dis-r{rnd}")
            # full rows kept: they become this round's Disallowed UPDATE
            # delta rows directly (no frontier read-back at commit time)
            newly_dis = self._mat(
                reeval.where(
                    ~F.coalesce(
                        robots_allowed_udf(
                            F.col("url"), F.col("rule_mode"), F.col("robot_rules")
                        ),
                        F.lit(False),  # fail CLOSED (StrictRobotsFilter.scala:79)
                    )
                )
                .select(*FRONTIER_COLS)
                .observe(nd_obs, F.count(F.lit(1)).alias("n"))
            )
            # the count rides the localCheckpoint job — no dedicated isEmpty
            n_newly_dis = int(nd_obs.get["n"])
            if n_newly_dis == 0:
                newly_dis = None
        else:
            n_newly_dis = 0
        _lap("robots")

        # O5/O6 insert with strict-robots status (user prioritizer honored);
        # insert/disallowed counts ride the localCheckpoint as Observations
        ins_obs = Observation(f"ins-r{rnd}")
        new_rows = self._mat(
            insert_rows(cand, hosts_next, rnd, cfg, robots_allowed_udf,
                        self.prioritizer)
            .observe(
                ins_obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (F.col("status") != STATUS_DISCOVERED).cast("long")
                ).alias("dis"),
            )
        )
        n_inserted = int(ins_obs.get["n"])
        m["inserted"] = n_inserted
        m["disallowed"] = int(ins_obs.get["dis"] or 0)
        self.frontier_rows += n_inserted
        bloom_future = None
        if self.bloom is not None:
            # executor-side shard update: no row data crosses the driver.
            # The job runs CONCURRENTLY with selection/fetch/commit (its
            # result is only needed by the NEXT round's probe) — joined at
            # the end of the step.
            bloom_future = self._bg.submit(
                self.bloom.add_dataframe, new_rows, "url_hash"
            )
            self._bloom_future = bloom_future
        _lap("insert")

        # O8 politeness: budgets + salted window-rank + global fetch order
        budgets = host_budgets(hosts_next, rnd, self.round_ms,
                               cfg.max_fetches_per_host_per_round)
        # full frontier columns flow through selection: the selected rows
        # become this round's Processed UPDATE delta directly (MoR commit
        # writes them verbatim — no touched-bucket read-back/merge)
        discovered = self._discovered_view().unionByName(
            new_rows.where(F.col("status") == STATUS_DISCOVERED)
        )
        if newly_dis is not None:
            discovered = discovered.join(
                F.broadcast(newly_dis.select("url")), "url", "left_anti"
            )
        sel = politeness_select(discovered, budgets, self.n_salts)
        if cfg.max_bytes_per_host_per_round is not None:
            # optional byte budget (Fetcher.scala:144 token bucket,
            # round-discretized): gated-out rows simply stay Discovered
            # and compete again next round — no state to carry
            sel = byte_budget_select(
                sel, self.corpus, cfg.max_bytes_per_host_per_round
            )
        # the hosts-table size as of the last commit (exact 0 at fresh
        # start, Observation-fed afterwards, None after resume) plus this
        # round's refresh count bounds the ACTIVE host count — every host
        # in `sel` either had a hosts row at the last commit or gained one
        # via this round's refresh.  Small bound → the sampling-free
        # single-partition prefix sum (assign_fetch_order docstring); this
        # covers round 0 too (seed hosts are all refreshed), which
        # otherwise paid the RangePartitioner sampling job on its very
        # first, smallest selection.
        sel = assign_fetch_order(
            sel, self.fetch_seq, self._parts,
            n_hosts_hint=(
                None if self._last_hosts_rows is None
                else self._last_hosts_rows + n_refreshed
            ),
        )
        sel_obs = Observation(f"sel-r{rnd}")
        sel = self._mat(
            sel.select(*FRONTIER_COLS, "rank")
            .observe(sel_obs, F.count(F.lit(1)).alias("n"))
        )
        n_fetched = int(sel_obs.get["n"])
        m["fetched"] = n_fetched
        _lap("select")

        # gate advance for hosts that fetched
        fetched_counts = sel.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
        hosts_next2 = advance_gates(hosts_next, fetched_counts, rnd, self.round_ms)

        # O10-O14 fetch + parse/emit; O15 fetch-result consumer (user plug-
        # point or the default payload validator).  Only the three columns
        # the fetch join consumes are broadcast — sel's full frontier row
        # (needed for the update delta) would multiply the round's
        # driver-built broadcast bytes for no consumer.
        fetch_sel = sel.select("url", "crawl_depth", "fetch_order")
        fetched, emitted = fetch_and_emit(
            fetch_sel, self.corpus, cfg, resolve_redirect_udf
        )
        if self.fetch_consumer is not None and n_fetched:
            # FUSED payload validation (O15): the consumer's failed rows
            # ride the CANDIDATES write as schema-aligned marker rows — one
            # action evaluates link emission AND payload checks, so the
            # round pays ONE payload-table pass through the planner (the
            # two branches' identical broadcast-join subtrees collapse via
            # ReuseExchange — the driver builds the fetch-set broadcast
            # once, not once per action), the failure count rides the emit
            # Observation, and the commit pool runs one fewer job.
            checks = self.fetch_consumer(fetched)
            fails = checks.where(~F.col("payload_ok")).select(
                F.lit("").alias("url"),
                F.lit(0).cast("int").alias("crawl_depth"),
                F.lit(0).cast("long").alias("seq"),
                F.lit(True).alias("_payload_fail"),
            )
            emitted = (
                emitted.withColumn("_payload_fail", F.lit(False))
                .unionByName(fails)
            )

        # O5/O18 status MERGE, merge-on-read style: this round's UPDATE delta
        # is built verbatim from rows already in hand — selected rows become
        # Processed (fetched_round/fetch_order stamped), strict flips become
        # Disallowed.  The frontier is never read back or merged at commit
        # time, and no driver action computes touched buckets: per-round
        # write IO is O(delta rows) (reference analogue: batched row-level
        # UPDATE pages SET status .. WHERE url, SlickPageRepository.scala:39
        # + Batcher.scala:37-61).
        upd_delta = sel.select(
            "url", "url_hash", "host",
            F.lit(STATUS_PROCESSED).alias("status"),
            "crawl_depth", "crawl_priority", "discovered_round",
            F.lit(rnd).cast("int").alias("fetched_round"),
            F.col("fetch_order").cast("long").alias("fetch_order"),
            "partition_id",
        )
        if newly_dis is not None:
            upd_delta = upd_delta.unionByName(
                newly_dis.select(
                    "url", "url_hash", "host",
                    F.lit(STATUS_DISALLOWED).alias("status"),
                    "crawl_depth", "crawl_priority", "discovered_round",
                    "fetched_round", "fetch_order", "partition_id",
                )
            )

        # durable commit: append this round's two delta files (+ hosts,
        # candidates), advance the chain, maybe compact.  The parquet
        # round-trip is also load-bearing for planner health: localCheckpoint
        # preserves origin-plan size stats and Catalyst's
        # SizeInBytesOnlyStatsPlanVisitor estimates joins as the PRODUCT of
        # child sizes, which compounds across rounds into million-digit
        # BigInt stats; re-reading real files each round resets them.
        self.rnd = rnd + 1
        self.fetch_seq += n_fetched
        n_emitted = self._commit_round(
            new_rows, upd_delta, n_fetched + n_newly_dis,
            hosts_next2, emitted,
        )
        m.update(self._commit_laps)
        m["emitted"] = n_emitted
        # entity-count gauges (CacheMetrics.scala:53-69 /
        # ClusterNodeMetricsCollector.scala analogues) — all driver-known
        # or riding the hosts commit Observation, zero extra jobs
        if self._last_hosts_rows is not None:
            m["hosts_rows"] = self._last_hosts_rows
        m["frontier_rows"] = self.frontier_rows
        if bloom_future is not None:
            m["inserted"] = bloom_future.result()
            self._bloom_future = None
        if isinstance(self.bloom, ShardedCuckoo):
            # eviction gauge delta for this round's inserts (the kick
            # counter is cumulative session-scope on the sharded store)
            m["seen_kicks"] = self.bloom.n_kicks - self._kicks_reported
            self._kicks_reported = self.bloom.n_kicks
        _lap("commit")
        self.metrics.append(m)
        self._append_metrics(m)

        if n_emitted == 0:
            remaining = self.frontier.where(
                F.col("status") == STATUS_DISCOVERED
            ).isEmpty()
            if remaining:
                return True
        return False

    # ----------------------------------------------------------- durability
    def _snap_dir(self, rnd: int) -> str:
        return os.path.join(self.work_dir, f"round={rnd:06d}")

    # -------------------------------------------------- durable metrics (O20)
    def _metrics_dir(self) -> str:
        return os.path.join(self.work_dir, "metrics")

    def _append_metrics(self, m: dict, name: str | None = None) -> None:
        """Append this round's per-stage rows to the durable metrics table
        (one immutable parquet file per round, keyed by round so a resumed
        run that replays a round idempotently overwrites its file; purge
        calls pass an explicit ``name`` so they never collide with the
        round's own file).  Runs for every round and every purge.  Counts
        are driver-known scalars from the round's Observations — writing is
        a local pyarrow call, no Spark job."""
        rows = metrics_stage_rows(m)
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self._metrics_dir()
        os.makedirs(d, exist_ok=True)
        schema = pa.schema([
            ("round", pa.int32()), ("stage", pa.string()),
            ("passed", pa.int64()), ("rejected", pa.int64()),
            ("wall_ms", pa.int64()),
        ])
        fname = name if name is not None else f"round={int(m['round']):06d}"
        path = os.path.join(d, f"{fname}.parquet")
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, path)

    def metrics_table(self) -> DataFrame:
        """The durable per-(round, stage) metrics table (O20): one row per
        pipeline stage per round with passed/rejected counts and the phase
        wall time — the queryable analogue of the reference's OTel stream."""
        d = self._metrics_dir()
        if not os.path.isdir(d) or not os.listdir(d):
            return self.spark.createDataFrame(
                [], "round int, stage string, passed long, rejected long, wall_ms long"
            )
        return self.spark.read.parquet(d)

    # ------------------------------------------------------------ purge/recrawl
    def purge_urls(self, urls: list[str]) -> int:
        """Forget URLs entirely — the recrawl/eviction path that makes the
        cuckoo filter's DELETE capability engine-real (reference analogue:
        cache eviction, CacheMetrics.scala:53-69, plus the row-level DELETE
        entity passivation implies):

        1. remove the urls' fingerprints from the cuckoo seen set (a bloom
           cannot delete → ValueError — this is why ``seen_filter="cuckoo"``
           exists);
        2. rewrite the frontier WITHOUT those rows via one forced full
           reconcile into a fresh base generation (O(table) IO — the same
           cost class and writer as a full major compaction; batch purges
           accordingly);
        3. append a durable metrics row and checkpoint the manifest.

        After a purge, a link to the URL probes the filter NEGATIVE
        (provably unseen), skips the exact confirm, and re-enters the
        frontier as a fresh Discovered row — fully re-discoverable.

        Crash-safe by the same manifest rule as every commit: shard files
        and base dirs are new versioned paths, invisible until the manifest
        references them, so a kill mid-purge resumes as if the purge never
        ran."""
        if not isinstance(self.bloom, ShardedCuckoo):
            raise ValueError(
                "purge_urls requires SparkCrawler(seen_filter='cuckoo'); "
                "a bloom seen-set cannot delete fingerprints"
            )
        if not urls:
            return 0
        purged = self.spark.createDataFrame(
            [(u,) for u in urls], "url string"
        ).withColumn("url_hash", F.xxhash64("url"))
        removed = self.bloom.remove_dataframe(purged, "url_hash")

        rec = self._reconciled_frontier()
        n_before = self.frontier_rows
        rec = rec.join(F.broadcast(purged.select("url")), "url", "left_anti")
        # next free purge index ON DISK (not a memory counter): a purge →
        # kill → resume → purge sequence must never collide with a dir the
        # rolled-back manifest no longer references
        snap = self._snap_dir(self.rnd)
        existing = [
            e for e in (os.listdir(snap) if os.path.isdir(snap) else [])
            if e.startswith("fr_purge")
        ]
        seq = 1 + max((int(e[8:]) for e in existing), default=0)
        base_dir = os.path.join(snap, f"fr_purge{seq:03d}")
        self._write_delta(rec, base_dir, self._parts)
        # exact count from the written footers (an Observation riding a
        # partitionBy write never materializes when the write is empty)
        n_after = self._leaf_rows([base_dir])
        if os.path.isdir(base_dir) and self._bucket_dirs(base_dir):
            self.chain_base = [base_dir]
        else:
            self.chain_base = []  # purge emptied the table
        self.chain_ins = []
        self.chain_upd = []
        self.upd_rows = 0
        n_purged = n_before - n_after
        self.frontier_rows = n_after
        self._reload_frontier()  # rebuild _data/_upd/frontier off the new chain

        m = {"round": self.rnd, "purged": n_purged, "seen_deletes": removed}
        self.metrics.append(m)
        self._append_metrics(m, name=f"purge-{self.rnd:06d}-{seq:03d}")
        if self.checkpoint_dir:
            self._checkpoint()
        return n_purged

    def _write_delta(self, df: DataFrame, out: str, n_files: int) -> None:
        """Per-(bucket, round) immutable delta write: hash-repartitioned so
        partitionBy emits ~one file per bucket, status-sorted row groups so
        parquet min/max stats let the per-round status='Discovered' scans
        SKIP row groups holding only Processed/Disallowed rows — at scale
        most of the frontier is Processed, so the politeness scan reads a
        shrinking fraction of the table."""
        (
            df.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)))
            .repartition(max(min(n_files, self.n_buckets), 1), F.col("bucket"))
            .sortWithinPartitions("bucket", "status")
            .write.partitionBy("bucket")
            .parquet(out)
        )

    def _commit_round(self, new_rows: DataFrame, upd_delta: DataFrame,
                      n_upd: int, hosts: DataFrame,
                      candidates: DataFrame) -> int:
        """Durable MoR commit = write THIS round's delta rows only:

        - ``fr_ins``: the round's inserted rows (every url's first and only
          insert) — appended to the data chain;
        - ``fr_upd``: the round's terminal status updates — appended to the
          update chain (read-time reconcile: update wins on url);
        - hosts + candidates are small per-round tables, written whole;
        - when a chain exceeds ``compact_after`` files, the reconciled table
          is compacted into a fresh base (amortized O(frontier/compact_after)
          IO per round; read amplification bounded by the chain length).
        - the parquet round-trip doubles as the Catalyst stats reset (size
          stats re-read from real files each round, no compounding)."""
        import time as _time

        d = self._snap_dir(self.rnd)
        if os.path.exists(d):
            shutil.rmtree(d)
        ins_dir = os.path.join(d, "fr_ins")
        upd_dir = os.path.join(d, "fr_upd")
        emit_obs = Observation(f"emitted-r{self.rnd}")
        has_fail_markers = "_payload_fail" in candidates.columns
        if has_fail_markers:
            # fused O15 validation (_step): marker rows are counted by the
            # SAME observation that counts emitted candidates, then
            # filtered out before the write — zero extra jobs
            candidates = candidates.observe(
                emit_obs,
                F.sum((~F.col("_payload_fail")).cast("long")).alias("n"),
                F.sum(F.col("_payload_fail").cast("long")).alias("fails"),
            ).where(~F.col("_payload_fail")).drop("_payload_fail")
        else:
            candidates = candidates.observe(
                emit_obs, F.count(F.lit(1)).alias("n")
            )
        hosts_obs = Observation(f"hosts-r{self.rnd}")
        hosts = hosts.observe(
            hosts_obs,
            F.min("valid_until").alias("mv"),
            F.count(F.lit(1)).alias("n"),
        )
        jobs = [
            ("ins", lambda: self._write_delta(new_rows, ins_dir, self._parts)),
            ("upd", lambda: self._write_delta(upd_delta, upd_dir, self._parts)),
            ("hosts", lambda: hosts.coalesce(min(self._parts, 4)).write.parquet(
                os.path.join(d, "hosts"))),
            # repartition (a real exchange), NOT coalesce: coalesce
            # back-propagates its partition cap into the heavy payload-scan
            # + decode/parse branches feeding the candidates plan (measured:
            # 32 coarse tasks instead of ~280 balanced ones, +60% on the
            # biggest round's commit) — the exchange shuffles only the tiny
            # (url, depth, seq) link rows for output-file count
            ("cands", lambda: candidates.repartition(self._parts).write.parquet(
                os.path.join(d, "candidates"))),
        ]
        self._commit_laps = {}
        if not os.environ.get("ABWCF_SERIAL_COMMIT"):
            # default: the commit's independent jobs (insert delta, update
            # delta, hosts, candidates, payload validation) run CONCURRENTLY
            # from driver threads — their driver-serialized latencies overlap
            # and idle cores absorb the work (measured: 16-core round wall
            # −20%; the serial opt-out exists for per-job lap profiling and
            # for boxes where core contention at low parallelism dominates)
            with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
                for f in [ex.submit(j) for _, j in jobs]:
                    f.result()
        else:
            for tag, j in jobs:
                _t = _time.time()
                j()
                self._commit_laps[f"t_commit_{tag}"] = round(_time.time() - _t, 3)
        # advance the chains (an empty write leaves no bucket dirs → no ref)
        for out, chain in ((ins_dir, self.chain_ins), (upd_dir, self.chain_upd)):
            if os.path.isdir(out) and any(
                e.startswith("bucket=") for e in os.listdir(out)
            ):
                chain.append(out)
        # driver-known exact delta size (n_fetched + n_newly_dis): an
        # Observation cannot ride an EMPTY partitionBy write (its metrics
        # row never materializes), and the count is already in hand anyway
        self.upd_rows += int(n_upd)
        try:
            g = hosts_obs.get
            mv = g["mv"]
            self._hosts_min_valid = int(mv) if mv is not None else None
            self._last_hosts_rows = int(g["n"])
        except Exception:
            self._hosts_min_valid = None  # conservative: assume expirable
            self._last_hosts_rows = None
        self._maybe_compact(d)
        self._reload_from(d)
        self._prune()
        g = emit_obs.get
        if has_fail_markers:
            self.payload_failures += int(g["fails"] or 0)
            return int(g["n"] or 0)
        return int(g["n"])

    # ------------------------------------------------- chain layout (driver)
    @staticmethod
    def _dir_round(path: str) -> int:
        """Round number encoded in a chain dir path (.../round=NNNNNN/fr_*).
        Path-derived epochs make the FS layout + chain lists the complete
        manifest — no separate per-bucket epoch state to keep consistent."""
        return int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])

    @staticmethod
    def _bucket_dirs(path: str) -> dict[int, str]:
        return {
            int(e.split("=", 1)[1]): os.path.join(path, e)
            for e in os.listdir(path)
            if e.startswith("bucket=")
        }

    def _base_leaf_selection(self) -> dict[int, tuple[int, str]]:
        """bucket → (absorbed_round, base leaf dir) of the NEWEST base
        generation containing that bucket.  The ONE newest-wins rule shared
        by the MoR read plan (_reload_frontier) and the compaction planner
        (_scan_chain_layout) — they must agree on which base leaf is live
        per bucket or compaction would consume a different leaf set than
        the read path serves."""
        base_sel: dict[int, tuple[int, str]] = {}
        for bdir in self.chain_base:  # oldest → newest: later wins
            r = self._dir_round(bdir)
            for b, leaf in self._bucket_dirs(bdir).items():
                prev = base_sel.get(b)
                if prev is None or r >= prev[0]:
                    base_sel[b] = (r, leaf)
        return base_sel

    def _scan_chain_layout(self):
        """Driver-local walk of the chain dirs → per-bucket live leaf paths
        (the MoR read plan, Iceberg-manifest style).  A bucket's base is the
        NEWEST base generation containing it; a delta leaf is live iff its
        round is newer than that base's round (a base written at round k
        reconciled every delta of rounds ≤ k for its buckets).

        Returns (base_sel, data_by_b, upd_by_b): base_sel maps bucket →
        (absorbed_round, base leaf dir); data/upd map bucket → ordered live
        delta leaf dirs."""
        base_sel = self._base_leaf_selection()
        data_by_b: dict[int, list[str]] = {}
        upd_by_b: dict[int, list[str]] = {}
        for chain, by_b in ((self.chain_ins, data_by_b), (self.chain_upd, upd_by_b)):
            for d in chain:
                r = self._dir_round(d)
                for b, leaf in self._bucket_dirs(d).items():
                    if r > base_sel.get(b, (-1, ""))[0]:
                        by_b.setdefault(b, []).append(leaf)
        return base_sel, data_by_b, upd_by_b

    @staticmethod
    def _leaf_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith("_") and not f.endswith(".crc")
        )

    def _leaf_rows(self, paths: list[str]) -> int:
        """Exact row count from parquet footers (driver-local metadata read
        — the analogue of an Iceberg manifest's per-file record counts).
        Leaf dirs are immutable once written (versioned per round), so
        per-leaf counts are memoized: the major-bucket selection asks about
        every live bucket each pass, and at adaptive bucket counts up to
        65536 re-walking footers per call would be an O(buckets × files)
        serial driver term inside the commit path."""
        import pyarrow.parquet as pq

        memo = self._leaf_rows_memo
        total = 0
        for p in paths:
            n = memo.get(p)
            if n is None:
                n = 0
                for root, _, files in os.walk(p):
                    for f in files:
                        if f.endswith(".parquet"):
                            n += pq.ParquetFile(
                                os.path.join(root, f)
                            ).metadata.num_rows
                memo[p] = n
            total += n
        return total

    def _read_leaves(self, paths: list[str]) -> DataFrame:
        # recursiveFileLookup: the bucket= dirs are a write-side layout
        # (file sizing + selective-compaction handle), not a read-side
        # partition column — skipping partition inference also sidesteps
        # Spark's one-root-per-table restriction for multi-round chains
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(*paths)
            .select(*FRONTIER_COLS)
        )

    def _maybe_compact(self, d: str) -> None:
        """Per-bucket selective compaction of the delta chains, triggered
        when either chain exceeds ``compact_after`` files or the update
        chain outgrows the reconcile broadcast.

        One pass consumes the ENTIRE chain, per bucket either way:

        - MAJOR (reconciled rewrite into a new base generation): buckets
          whose live delta bytes ≥ ``major_frac`` × base bytes (or with no
          base yet) — rewrite IO proportional to THOSE buckets only, read
          via per-bucket leaf paths (true file pruning, no full-table scan);
        - MINOR (LSM-style consolidation): every other bucket's live delta
          rows rewritten verbatim into one consolidated delta pair —
          O(live delta rows), the base is NOT touched.

        A FULL major (all buckets) is forced when ``upd_rows`` exceeds
        ``seen_broadcast_limit`` (past it the read-side reconcile would
        degrade to an O(frontier) shuffle every round — reference analogue:
        row-level UPDATE never pays a table scan,
        SlickPageRepository.scala:39) or when ``max_bases`` partial base
        generations have accumulated; only a full major re-adapts the bucket
        count (K ≈ frontier_rows/2M, power of two, clamped [32, 65536]) —
        bucket identity must stay stable while partial bases exist."""
        need_full = self.upd_rows > self.seen_broadcast_limit
        if (
            len(self.chain_ins) <= self.compact_after
            and len(self.chain_upd) <= self.compact_after
            and not need_full
        ):
            return
        import time as _time

        _t = _time.time()
        base_sel, data_by_b, upd_by_b = self._scan_chain_layout()
        live_buckets = set(data_by_b) | set(upd_by_b)
        if not live_buckets and not need_full:
            return
        if need_full or len(self.chain_base) + 1 >= self.max_bases:
            major = live_buckets | set(base_sel)
        else:
            # row-count criterion from parquet footers (bytes would be
            # distorted by fixed per-file overhead on small buckets; rows
            # are proportional to rewrite cost at every scale)
            major = {
                b
                for b in live_buckets
                if base_sel.get(b) is None
                or self._leaf_rows(data_by_b.get(b, []) + upd_by_b.get(b, []))
                >= self.major_frac * self._leaf_rows([base_sel[b][1]])
            }
        full = major >= (live_buckets | set(base_sel))
        if full and self._adaptive_buckets and self.frontier_rows > 0:
            self.n_buckets = adaptive_bucket_count(self.frontier_rows)
        minor = live_buckets - major

        new_chain_base = list(self.chain_base)
        if major:
            # reconciled rewrite of ONLY the major buckets: per-bucket leaf
            # reads (file-pruned), update side broadcast-gated by its exact
            # footer row count
            data_paths = [base_sel[b][1] for b in major if b in base_sel]
            data_paths += [p for b in major for p in data_by_b.get(b, [])]
            upd_paths = [p for b in major for p in upd_by_b.get(b, [])]
            rec = self._read_leaves(data_paths) if data_paths else None
            if upd_paths:
                upd = self._read_leaves(upd_paths)
                if rec is None:
                    # unreachable in the round loop (an update implies a
                    # prior insert in the same bucket), but never drop rows
                    rec = upd
                else:
                    u = upd.select("url")
                    if self._leaf_rows(upd_paths) <= self.seen_broadcast_limit:
                        u = F.broadcast(u)
                    rec = rec.join(u, "url", "left_anti").unionByName(upd)
            base_dir = os.path.join(d, "fr_base")
            if rec is not None:
                self._write_delta(rec, base_dir, self._parts)
            if os.path.isdir(base_dir) and self._bucket_dirs(base_dir):
                new_chain_base = ([] if full else new_chain_base) + [base_dir]
            elif full:
                # empty table after a forced full major: nothing to
                # reference, keep the chains as-is
                self._commit_laps["t_commit_compact"] = round(
                    _time.time() - _t, 3
                )
                return
            elif rec is not None:
                # a partial major that wrote no bucket dirs would silently
                # drop the major buckets' live delta rows (the rebuilt
                # chains below only carry minor buckets) — unreachable
                # while rec's inputs are non-empty, so fail loudly rather
                # than rely on that implicit invariant
                raise RuntimeError(
                    "partial major compaction wrote no bucket dirs to "
                    f"{base_dir} from non-empty inputs "
                    f"({len(data_paths)} data / {len(upd_paths)} upd leaves)"
                )
        new_ins: list[str] = []
        new_upd: list[str] = []
        if minor:
            # consolidate the cold buckets' live deltas verbatim (no
            # reconcile — they stay deltas, just in one file per bucket)
            for by_b, sub, chain in (
                (data_by_b, "fr_cins", new_ins),
                (upd_by_b, "fr_cupd", new_upd),
            ):
                paths = [p for b in minor for p in by_b.get(b, [])]
                if not paths:
                    continue
                out = os.path.join(d, sub)
                self._write_delta(self._read_leaves(paths), out, self._parts)
                if os.path.isdir(out) and self._bucket_dirs(out):
                    chain.append(out)
        self.chain_base = new_chain_base
        self.chain_ins = new_ins
        self.chain_upd = new_upd
        self.upd_rows = self._leaf_rows(new_upd)
        self._commit_laps["t_commit_compact"] = round(_time.time() - _t, 3)

    def _referenced_round_dirs(self) -> set[str]:
        """round=N dir names still needed: current chain + whatever the
        newest manifest references (crash before the next manifest must be
        able to resume from the previous one)."""
        paths = list(self.chain_base) + self.chain_ins + self.chain_upd
        refs = {os.path.basename(os.path.dirname(p)) for p in paths}
        return refs | self._manifest_keep

    def _prune(self) -> None:
        """Drop older snapshots that are (a) unmanifested AND (b) hold no
        frontier files referenced by the current or last-manifested bucket
        map; manifested snapshots are the durable history."""
        cur = f"round={self.rnd:06d}"
        keep = self._referenced_round_dirs()
        for e in os.listdir(self.work_dir):
            full = os.path.join(self.work_dir, e)
            if (
                e.startswith("round=")
                and e < cur
                and e not in keep
                and not os.path.exists(os.path.join(full, "manifest.json"))
            ):
                shutil.rmtree(full, ignore_errors=True)

    def _checkpoint(self) -> None:
        """Stamp the current round snapshot as durable: bloom state +
        manifest (manifest written last → a snapshot without manifest.json
        is incomplete and ignored by resume)."""
        d = self._snap_dir(self.rnd)
        os.makedirs(d, exist_ok=True)
        # per-partition lineage + fetch metrics (north_rule: every frontier
        # partition carries checkpointed lineage + fetch metrics): rows,
        # fetched rows and fetch-order watermark per ingest partition id
        (
            self.frontier.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count("fetch_order").alias("fetched_rows"),
                F.max("fetch_order").alias("max_fetch_order"),
                F.max("discovered_round").alias("last_discovered_round"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(d, "partition_metrics"))
        )
        manifest = dict(
            round=self.rnd,
            fetch_seq=self.fetch_seq,
            payload_failures=self.payload_failures,
            metrics=self.metrics,
            use_bloom=self.bloom is not None,
            # the Iceberg-snapshot-manifest analogue: the immutable file
            # chains whose union IS the frontier (work_dir-relative) + the
            # driver-known update-row count that gates the reconcile
            # broadcast on resume
            frontier_chain=dict(
                # base GENERATIONS oldest→newest (newest dir containing a
                # bucket wins for that bucket — partial bases from selective
                # compaction); legacy round-3 manifests stored a single str
                base=[os.path.relpath(p, self.work_dir) for p in self.chain_base],
                ins=[os.path.relpath(p, self.work_dir) for p in self.chain_ins],
                upd=[os.path.relpath(p, self.work_dir) for p in self.chain_upd],
                upd_rows=self.upd_rows,
                frontier_rows=self.frontier_rows,
            ),
            n_buckets=self.n_buckets,
        )
        self._manifest_keep = self._referenced_round_dirs()
        if self.bloom is not None:
            manifest["bloom"] = self.bloom.to_manifest()
            # prune shard versions no longer referenced by the current map
            # or by the PREVIOUS manifest (a crash mid-checkpoint must still
            # be able to resume from the previous one)
            self.bloom.prune(
                {s: {v} for s, v in self._last_bloom_versions.items()}
            )
            self._last_bloom_versions = dict(self.bloom.versions)
        tmp = os.path.join(d, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(d, "manifest.json"))

    def _reload_from(self, d: str) -> None:
        self._reload_frontier()
        self.hosts = self.spark.read.parquet(os.path.join(d, "hosts"))
        self.candidates = self.spark.read.parquet(os.path.join(d, "candidates"))

    def _reload_frontier(self) -> None:
        """Rebuild the chain read views: multi-path parquet scans (pure
        scans → true size stats, column pruning and predicate pushdown reach
        the files; the dropped ``bucket`` partition column never enters the
        round plans) + the lazily reconciled public ``frontier`` view.

        Every chain leaf is live by construction (a compaction pass consumes
        the whole chain: later delta dirs are strictly newer than every base
        generation, and consolidated dirs exclude the buckets that pass
        major-compacted) — only base generations need per-bucket
        newest-wins selection when partial bases exist."""
        if len(self.chain_base) <= 1:
            # single generation: read the whole dir, skip the leaf walk
            base_paths = list(self.chain_base)
        else:
            base_paths = [
                leaf for _, leaf in self._base_leaf_selection().values()
            ]
        data_paths = base_paths + self.chain_ins
        self._data = (
            self._read_leaves(data_paths) if data_paths
            else self.spark.createDataFrame([], FRONTIER_SCHEMA)
        )
        self._upd = (
            self._read_leaves(self.chain_upd) if self.chain_upd
            else self.spark.createDataFrame([], FRONTIER_SCHEMA)
        )
        self.frontier = self._reconciled_frontier()

    def latest_snapshot(self) -> str | None:
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        snaps = sorted(
            e for e in os.listdir(self.checkpoint_dir)
            if e.startswith("round=")
            and os.path.exists(os.path.join(self.checkpoint_dir, e, "manifest.json"))
        )
        return os.path.join(self.checkpoint_dir, snaps[-1]) if snaps else None

    def _restore(self) -> None:
        d = self.latest_snapshot()
        if d is None:
            raise FileNotFoundError(f"no complete snapshot under {self.checkpoint_dir}")
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
        self.rnd = int(manifest["round"])
        self.fetch_seq = int(manifest["fetch_seq"])
        self.payload_failures = int(manifest.get("payload_failures", 0))
        # unknown until the first post-resume commit's Observation — the
        # fetch-order hint must not claim the fresh-start exact 0
        self._last_hosts_rows = None
        self._hosts_min_valid = None
        self.metrics = list(manifest.get("metrics", []))
        self.n_buckets = int(manifest.get("n_buckets", self.n_buckets))
        ch = manifest.get("frontier_chain", {})
        base = ch.get("base") or []
        if isinstance(base, str):  # legacy single-base manifest (round ≤3)
            base = [base]
        self.chain_base = [os.path.join(self.work_dir, p) for p in base]
        self.chain_ins = [os.path.join(self.work_dir, p) for p in ch.get("ins", [])]
        self.chain_upd = [os.path.join(self.work_dir, p) for p in ch.get("upd", [])]
        self.upd_rows = int(ch.get("upd_rows", 0))
        self.frontier_rows = int(ch.get("frontier_rows", 0))
        self._manifest_keep = self._referenced_round_dirs()
        # drop metrics rows a crashed run wrote past the resume point (the
        # replay rewrites each round's file idempotently, but a config-
        # changed resume must not inherit stale rows)
        md = self._metrics_dir()
        if os.path.isdir(md):
            for f in os.listdir(md):
                if (
                    f.startswith("round=") and f.endswith(".parquet")
                    and int(f[len("round="):-len(".parquet")]) >= self.rnd
                ):
                    os.unlink(os.path.join(md, f))
        self._reload_from(d)
        if self.use_bloom:
            bdir = os.path.join(self.work_dir, "bloom")
            if "bloom" in manifest:
                # the manifest's kind tag wins over the constructor arg: a
                # resume must reopen the filter the files were written by
                _cls = (
                    ShardedCuckoo
                    if manifest["bloom"].get("kind") == "cuckoo"
                    else ShardedBloom
                )
                self.bloom = _cls.from_manifest(bdir, manifest["bloom"])
                self._last_bloom_versions = dict(self.bloom.versions)
            else:
                # snapshot carries no bloom state (written with
                # use_bloom=False, or frontier rows were appended outside
                # the round loop, e.g. streaming seed intake): a fresh empty
                # bloom would "prove" frontier URLs new → duplicates.
                # Rebuild the set from a frontier url_hash scan instead.
                self.bloom.rebuild_from(self.frontier)
