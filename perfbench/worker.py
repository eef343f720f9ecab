"""One workload, measured inside its own Python process.

A second SparkContext in one process leaves PySpark's accumulator server
broken, so ``run.py`` starts this module once per run:

    python3 perfbench/worker.py '<json job>'

The job names the workload, the timed window, the trace flag, the work
directory and the generated inputs.  The process prints one JSON object as
its last stdout line: ``attempted``/``failed`` counts, the end-to-end
metrics, the per-layer metrics and a human-readable report.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (REPO, os.path.dirname(os.path.abspath(__file__))):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import eventlog  # noqa: E402
import inputs  # noqa: E402
from abwcf_spark.engine.crawler import SparkCrawler  # noqa: E402
from abwcf_spark.oracle_fixtures import SF001  # noqa: E402
from bench import HEADLINE_QUERIES  # noqa: E402
from scripts.driver_sim import TABLES as SF_TABLES  # noqa: E402
from scripts.driver_sim import _hash_rows  # noqa: E402

LAPS = ("cand", "robots", "insert", "select", "commit")
COMMIT_SUBLAPS = ("ins", "upd", "hosts", "cands", "compact")
OPERATOR_COUNTS = ("candidates", "normalized", "new_urls", "lenient_passed")

DEDUP_QUERIES = (
    "doc_fingerprint_winnow", "dup_span_extract", "incremental_minhash_dedup",
    "phash_near_dup_pairs", "near_dup_clusters",
)
QUERY_NAMES = (*HEADLINE_QUERIES, *DEDUP_QUERIES)
# a query runs (checked and timed) at its oracle's scale: the .oracle-cache
# fixtures are built from sf0.01, the SQL oracles run at sf0.1
SF_FIXTURE = SF001
SF_SQL = os.path.join(os.path.dirname(SF001), "sf0.1")
# timed passes over the queries (more run while the window is not covered)
MIN_QUERY_PASSES = 1

# the oracle checks of the query set-up run on this many driver threads
CHECK_THREADS = 4
# crawler constructions in the crawl set-up (their median counts)
SETUP_REPEATS = 3

# corpus files (512 rows each) read by the fixed validation job behind
# kernels.validate_scaling_eff, and out-links timed by the URL kernels
SCALING_FILES = 8
KERNEL_URLS = 4096
# tasks of the empty pandas-UDF stage behind worker_daemon.udf_floor_s
UDF_FLOOR_TASKS = 32


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def start_session(cpus: int, work: str, trace: bool):
    from abwcf_spark.session import get_spark

    conf = {
        # ~11 scan splits over the 88 MB payload corpus: every core gets
        # work in the validation stage
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.local.dir": os.path.join(work, "tmp", "spark-local"),
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file per app
            "spark.eventLog.dir": "file://" + logdir,
        })
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


# --------------------------------------------------------------------------
# crawl workload
# --------------------------------------------------------------------------

class TimedCrawler(SparkCrawler):
    """Records the wall-clock span of every round step; everything the
    engine does between steps (done-check, checkpoints) is untracked."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.step_spans: list[tuple[float, float]] = []

    def _step(self) -> bool:
        t0 = time.time()
        try:
            return super()._step()
        finally:
            self.step_spans.append((t0, time.time()))


def _new_crawler(spark, tables: dict, work: str, name: str,
                 collect_metrics: bool = False):
    """A durable crawler over the workload tables, checkpointing under the
    work directory; returns (crawler, construction seconds)."""
    d = os.path.join(work, "tmp", name)
    shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    crawler = TimedCrawler(
        spark, tables["corpus"], tables["robots"], inputs.CFG, checkpoint_dir=d,
        collect_metrics=collect_metrics, use_bloom=True, bloom_capacity=1 << 20,
        validate_payloads=True,
    )
    crawler.compact_after = inputs.COMPACT_AFTER
    return crawler, time.time() - t


def _seed_round(crawler, seeds) -> float:
    """Round 0 of a crawl, untimed: it fetches only the seed pages, and in a
    fresh session it is where every round plan and the payload check are
    first compiled (the warm-up, as ``bench.py`` warms before its crawl)."""
    t = time.time()
    crawler.run(seeds=seeds, max_rounds=1)
    return time.time() - t


def _crawl(crawler) -> dict:
    """The timed part of a crawl: every round after the seed round, each
    starting once the previous one committed.  The caller drops its files
    with ``_drop`` once the result has been read."""
    n0, f0 = len(crawler.step_spans), crawler.fetch_seq
    t0 = time.time()
    try:
        res = crawler.run()
        t1 = time.time()
    finally:
        crawler.close()
    return dict(crawler=crawler, result=res, start=t0, end=t1, wall_s=t1 - t0,
                first_round=n0, spans=crawler.step_spans[n0:], metrics=res.metrics[n0:],
                fetched=res.fetch_seq - f0)


def _drop(crawler) -> None:
    crawler.close()
    shutil.rmtree(crawler.work_dir, ignore_errors=True)


def _round_walls(c: dict) -> list[float]:
    """Round wall = step start to next step start (the last round ends with
    the crawl), so checkpoints count against the round that wrote them."""
    starts = [s for s, _ in c["spans"]]
    ends = starts[1:] + [c["end"]]
    return [e - s for s, e in zip(starts, ends)]


def _crawl_digest(res) -> str:
    order = res.crawl_order()
    status = [(r.url, r.status) for r in res.frontier.select("url", "status").collect()]
    return inputs.crawl_digest(order, status)


def _engine_layers(c: dict) -> dict:
    """Free per-layer numbers of the timed rounds of one crawl, from
    ``CrawlResult.metrics``."""
    ms = c["metrics"]
    out = {f"engine.t_{lap}_s": sum(m.get(f"t_{lap}", 0.0) for m in ms) for lap in LAPS}
    out["engine.untracked_s"] = c["wall_s"] - sum(out.values())
    out["engine.rounds"] = len(c["spans"])
    out["engine.fetched"] = c["fetched"]
    for k in ("inserted", "emitted"):
        out[f"engine.{k}"] = sum(int(m.get(k, 0)) for m in ms)
    return out


def run_crawl(spark, job: dict, report: dict, setup: dict) -> tuple[dict, dict, int, int]:
    """Set-up: the crawler is constructed ``SETUP_REPEATS`` times (the
    median counts) and the last one crawls its seed round, the warm-up.
    Timed: the rest of that crawl, and more crawls (each after its own
    untimed seed round) until the window is covered.  A traced run commits
    serially and counts operator records in every crawl."""
    inp, work, trace = job["inputs"], job["work"], job["trace"]
    tables = {
        "corpus": spark.read.parquet(inp["corpus"]),
        "robots": spark.read.parquet(inp["robots"]),
        "seeds": spark.read.parquet(inp["seeds"]),
    }
    constructs = []
    # a traced run reports no set-up time, so it constructs once
    for i in range(1 if trace else SETUP_REPEATS):
        if i:
            _drop(crawler)
        crawler, dt = _new_crawler(spark, tables, work, f"crawl-s{i}", collect_metrics=trace)
        constructs.append(dt)
    setup["construct_s"] = _median(constructs)
    setup["seed_round_s"] = _seed_round(crawler, tables["seeds"])

    crawls, attempted, failed, n = [], 0, 0, 0
    if trace:
        os.environ["ABWCF_SERIAL_COMMIT"] = "1"
    try:
        while not crawls or sum(c["wall_s"] for c in crawls) < job["seconds"]:
            if crawler is None:
                n += 1
                crawler, _ = _new_crawler(spark, tables, work, f"crawl-t{n}",
                                          collect_metrics=trace)
                _seed_round(crawler, tables["seeds"])
            c = _crawl(crawler)
            crawler = None
            res = c["result"]
            attempted += res.fetch_seq
            failed += res.payload_failures
            if not crawls:
                # correctness, outside the timed span: crawl order and
                # URL-seen set against the pure-Python oracle's digest
                attempted += 1
                ok = _crawl_digest(res) == inp["oracle"]["digest"]
                failed += 0 if ok else 1
                report["oracle_match"] = ok
            _drop(c["crawler"])
            crawls.append(c)
    finally:
        os.environ.pop("ABWCF_SERIAL_COMMIT", None)
    walls = [c["wall_s"] for c in crawls]
    e2e = {
        "wall_s": _median(walls),
        "step_s_gmean": statistics.geometric_mean(
            [w for c in crawls for w in _round_walls(c)]
        ),
        "items_per_s": sum(c["fetched"] for c in crawls) / sum(walls),
    }
    first = crawls[0]["result"]
    report.update(
        constructs_s=constructs, crawl_walls_s=walls, rounds=first.rounds,
        fetched=first.fetch_seq, timed_fetched=crawls[0]["fetched"],
        compactions=sum("t_commit_compact" in m for m in first.metrics),
        round_walls_s=[_round_walls(c) for c in crawls],
        round_metrics=[c["result"].metrics for c in crawls],
    )
    layers = _engine_layers(crawls[0])
    if trace:
        layers.update(_traced_crawl(job, report, crawls[0]))
    return e2e, layers, attempted, failed


def _traced_crawl(job: dict, report: dict, c: dict) -> dict:
    """Per-layer numbers only a traced crawl has: commit sub-laps (its commit
    jobs ran serially, each in its own lap), operator counts and the
    tracing overhead.  The Spark event log covers the whole session and is
    parsed after the session stops; the lap windows wait in the report for
    ``_finish_trace``."""
    ms = c["metrics"]
    out = {
        f"engine.t_commit_{sub}_s": sum(m.get(f"t_commit_{sub}", 0.0) for m in ms)
        for sub in COMMIT_SUBLAPS
    }
    for k in OPERATOR_COUNTS:
        out[f"operators.{k}"] = sum(int(m.get(k, 0)) for m in ms)
    probed = sum(int(m.get("bloom_probed", 0)) for m in ms)
    pos = sum(int(m.get("bloom_pos", 0)) for m in ms)
    norm = out["operators.normalized"]
    out["operators.seen_keep_ratio"] = out["operators.new_urls"] / norm if norm else 0.0
    out["operators.bloom_neg_ratio"] = (probed - pos) / probed if probed else 0.0
    # the tracing overhead is the traced wall minus the median untraced
    # wall: the untraced runs of this work directory give the median, and
    # before there is one the overhead reads 0 (not measured)
    untraced = _median(job["untraced_walls"]) if job["untraced_walls"] else None
    out["engine.trace_overhead_s"] = c["wall_s"] - untraced if untraced else 0.0
    # the commit lap's candidate job decodes and validates the fetched
    # payloads: its share of the crawl wall is what the corpus is sized by
    out["engine.commit_cands_share"] = out["engine.t_commit_cands_s"] / c["wall_s"]
    report["traced_crawl"] = dict(
        wall_s=c["wall_s"], untraced_wall_s=untraced,
        untraced_runs=len(job["untraced_walls"]),
        overhead_s=out["engine.trace_overhead_s"],
        commit_cands_share=out["engine.commit_cands_share"],
        start=c["start"], end=c["end"], first_round=c["first_round"],
        step_spans=c["spans"], metrics=ms,
    )
    return out


# --------------------------------------------------------------------------
# fixed jobs and kernels (the traced crawl run)
# --------------------------------------------------------------------------

def _payload_files(job: dict) -> list[str]:
    d = job["inputs"]["corpus"]
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def scaling_eff(spark, job: dict, cpus: int) -> tuple[float, dict]:
    """The north-rule ratio on one fixed payload-validation job: its wall
    with one task slot (the rows coalesced to one partition, so one core
    works) over its wall split across every slot, divided by the slot
    count.  One run of each side."""
    from pyspark.sql import functions as F

    from abwcf_spark.operators.udfs import PAYLOAD_CHECK_SCHEMA, validate_payload_batches

    df = (
        spark.read.parquet(*_payload_files(job)[:SCALING_FILES])
        .where(F.col("bytes").isNotNull())
        .select("url", "bytes", "image_id", "w", "h", "fmt", "caption", "phash")
    )

    def timed(d) -> tuple[float, int]:
        t = time.time()
        bad = d.mapInPandas(validate_payload_batches, PAYLOAD_CHECK_SCHEMA).where(
            ~F.col("payload_ok")
        ).count()
        return time.time() - t, bad

    # both sides read the same checkpointed rows, so neither pays the parquet
    # scan or the spread: only the slot count differs
    many = df.repartition(cpus * 4).localCheckpoint(eager=True)
    one = many.coalesce(1)
    # the crawl before this job ran the same check, so the Python workers
    # and the check are warm; the all-slots side goes first, so whatever
    # warm-up is left lowers the ratio rather than raising it
    tn, bn = timed(many)
    t1, b1 = timed(one)
    return t1 / tn / cpus, dict(one_slot_s=t1, all_slots_s=tn, payload_failures=b1 + bn)


def udf_floor_s(spark, cpus: int) -> float:
    """Wall of an empty pandas-UDF stage with a fixed task count: the
    per-task Python worker round trip (worker_daemon) and nothing else."""
    from pyspark.sql import functions as F

    ident = F.pandas_udf(lambda x: x, "long")
    walls = []
    for _ in range(3):
        t = time.time()
        spark.range(0, UDF_FLOOR_TASKS, 1, UDF_FLOOR_TASKS).select(
            F.count(ident(F.col("id")))
        ).collect()
        walls.append(time.time() - t)
    return _median(walls)


def kernel_timings(job: dict) -> dict:
    """Public kernels timed in this process on fixed corpus inputs."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from abwcf_spark.kernels.bloom import BloomFilter
    from abwcf_spark.kernels.hashing import xxhash64_series
    from abwcf_spark.kernels.robots import host_outcome, robots_allowed_series
    from abwcf_spark.kernels.urlnorm import normalize_series
    from abwcf_spark.operators.udfs import validate_payload_batches

    files = _payload_files(job)
    pay = pq.read_table(files[0]).to_pandas()
    pay = pay[pay["bytes"].notna()].reset_index(drop=True)
    links = pq.read_table(files, columns=["out_links"]).to_pandas()["out_links"]
    urls = pd.Series(
        [u for ls in links if ls is not None for u in ls][:KERNEL_URLS], dtype=object
    )

    def best(fn, reps=3):
        ts = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return min(ts)

    out = {}
    t = best(lambda: list(validate_payload_batches(iter([pay]))))
    out["kernels.validate_us_per_payload"] = t / len(pay) * 1e6
    out["kernels.normalize_us_per_url"] = best(lambda: normalize_series(urls)) / len(urls) * 1e6
    mode, rules, _, _ = host_outcome(
        "ok", "User-agent: *\nDisallow: /private/\nAllow: /private/open/\n"
        "Disallow: /*.bin$\nCrawl-delay: 1\n",
    )
    modes = pd.Series([mode] * len(urls), dtype=object)
    rule_s = pd.Series([rules] * len(urls), dtype=object)
    out["kernels.robots_us_per_url"] = (
        best(lambda: robots_allowed_series(urls, modes, rule_s)) / len(urls) * 1e6
    )
    keys = xxhash64_series(urls).to_numpy(dtype=np.int64)
    bf = BloomFilter.for_capacity(1 << 20)

    def add():
        b = BloomFilter(bf.n_bits, bf.n_hashes)
        b.add_hashes(keys)
        return b

    out["kernels.bloom_add_ns_per_key"] = best(add) / len(keys) * 1e9
    full = add()
    probe = keys ^ np.int64(0x5DEECE66D)  # mostly absent keys
    out["kernels.bloom_probe_ns_per_key"] = (
        best(lambda: full.might_contain(probe)) / len(keys) * 1e9
    )
    return out


# --------------------------------------------------------------------------
# query workload
# --------------------------------------------------------------------------

def hash_rows(cols, rows) -> str:
    """scripts/driver_sim.py's order-insensitive result hash, plus the row
    count and column names it compares alongside."""
    return f"{len(rows)}:{sorted(cols)}:{_hash_rows(cols, rows)}"


def oracle_sf(sql: str) -> str:
    """Fixture oracles are pinned to the scale they were built from; SQL
    oracles run at sf0.1."""
    return SF_FIXTURE if ".oracle-cache" in sql else SF_SQL


def query_oracles(work: str) -> dict[str, str]:
    """Result hash of every oracle, computed by DuckDB over the tables of
    the scale the oracle belongs to; cached per oracle text."""
    import hashlib

    import duckdb

    from abwcf_spark.queries import ORACLE

    path = os.path.join(work, "query_oracles.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    out, cons = {}, {}
    for name in QUERY_NAMES:
        sql = ORACLE[name]
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()}"
        if key not in cache:
            sf = oracle_sf(sql)
            if sf not in cons:
                cons[sf] = duckdb.connect()
                for t in SF_TABLES:
                    cons[sf].execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
                    )
            con = cons[sf]
            res = con.execute(sql).fetchall()
            cache[key] = hash_rows([d[0] for d in con.description], res)
        out[name] = cache[key]
    for con in cons.values():
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(path + ".tmp", path)
    return out


def _noop(spark, name: str):
    """One run of a query through the noop sink, at its oracle's scale:
    every row is computed, none is moved to Python.  Returns the query's
    DataFrame (building some queries runs jobs, so it is built once)."""
    from abwcf_spark.queries import ORACLE, QUERIES

    df = QUERIES[name](spark, oracle_sf(ORACLE[name]))
    df.write.format("noop").mode("overwrite").save()
    return df


def run_queries(spark, job: dict, report: dict, setup: dict) -> tuple[dict, dict, int, int]:
    """Set-up (the warm pass): each query is collected once and its rows
    checked against its oracle, ``CHECK_THREADS`` queries at a time.
    Timed: passes over the queries, one at a time, through the noop sink
    on the same tables, at least ``MIN_QUERY_PASSES`` and until they cover
    the window; each query reports the median of its runs.  One warm run
    before the timed one is ``bench.py``'s practice; a pass takes longer
    than the window, so a run times one pass."""
    from concurrent.futures import ThreadPoolExecutor

    from abwcf_spark.queries import ORACLE, QUERIES

    want = query_oracles(job["work"])
    errors = report.setdefault("errors", {})

    def check(name: str) -> bool:
        try:
            df = QUERIES[name](spark, oracle_sf(ORACLE[name]))
            return hash_rows(df.columns, [tuple(r) for r in df.collect()]) == want[name]
        except Exception as ex:  # a query error is a counted failure
            errors[name] = f"{type(ex).__name__}: {ex}"
            return False

    t0 = time.time()
    with ThreadPoolExecutor(CHECK_THREADS) as ex:
        oks = list(ex.map(check, QUERY_NAMES))
    setup["warm_pass_s"] = time.time() - t0
    attempted, failed = len(oks), oks.count(False)

    per_query: dict[str, list[float]] = {n: [] for n in QUERY_NAMES}
    last: dict = {}
    passes: list[float] = []
    while len(passes) < MIN_QUERY_PASSES or sum(passes) < job["seconds"]:
        for name in QUERY_NAMES:
            attempted += 1
            t = time.time()
            try:
                last[name] = _noop(spark, name)
            except Exception as ex:
                failed += 1
                errors[name] = f"{type(ex).__name__}: {ex}"
            per_query[name].append(time.time() - t)
        passes.append(sum(v[-1] for v in per_query.values()))
    med = {n: _median(v) for n, v in per_query.items()}
    e2e = {
        "wall_s": sum(med.values()),
        "step_s_gmean": statistics.geometric_mean(list(med.values())),
        "items_per_s": len(QUERY_NAMES) / sum(med.values()),
    }
    report.update(passes=passes, per_query_s=med)
    layers = {}
    if job["trace"]:
        for name in QUERY_NAMES:
            layers[f"queries.{name}_s"] = med[name]
            if name in last:
                layers[f"queries.{name}.exchanges"] = exchange_count(last[name])
    return e2e, layers, attempted, failed


_EXCHANGE_RE = re.compile(r"^\(\d+\) (?:Broadcast)?Exchange\b", re.M)


def exchange_count(df) -> int:
    text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return len(_EXCHANGE_RE.findall(text))


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------

def _finish_trace(job: dict, app_id: str, report: dict) -> tuple[dict, bool]:
    """Per-lap Spark job table of the traced crawl, from the event log, and
    whether it passed ``eventlog.wall_check``."""
    tc = report["traced_crawl"]
    spans, ms = tc.pop("step_spans"), tc.pop("metrics")
    start, end = tc.pop("start"), tc.pop("end")
    windows = eventlog.lap_windows(spans, ms, start, end, LAPS)
    log = eventlog.find_log(os.path.join(job["work"], "eventlog"), app_id)
    jobs = eventlog.job_stats(eventlog.read_events(log))
    os.remove(log)
    table = eventlog.attribute(jobs, windows)
    # each recorded lap is rounded to 1 ms
    tc["wall_check"] = eventlog.wall_check(
        spans, ms, jobs, table, start, end, LAPS, tol_s=0.0005 * len(LAPS) + 0.002
    )
    # the parser numbers the timed rounds from 0; the crawl numbers them on
    # from its seed round
    first = tc.pop("first_round")
    tc["table"] = {f"r{r + first}:{lap}": row for (r, lap), row in sorted(table.items())}
    out = {}
    for lap, row in eventlog.per_lap(table, LAPS).items():
        for f in eventlog.FIELDS:
            out[f"engine.{lap}.{f}"] = row[f]
    return out, tc["wall_check"]["ok"]


def main() -> int:
    job = json.loads(sys.argv[1])
    cpus, trace, work = job["cpus"], job["trace"], job["work"]
    report: dict = {}
    # the fixed jobs, the kernels and the event log belong to the crawl
    traced_crawl = trace and job["workload"] == "crawl_payload"
    t0 = time.time()
    spark = start_session(cpus, work, traced_crawl)
    setup = dict(session_s=time.time() - t0)
    try:
        if job["workload"] == "dedup_queries":
            e2e, layers, attempted, failed = run_queries(spark, job, report, setup)
        else:
            e2e, layers, attempted, failed = run_crawl(spark, job, report, setup)
        if traced_crawl:
            eff, report["scaling"] = scaling_eff(spark, job, cpus)
            attempted += 1
            failed += 1 if report["scaling"]["payload_failures"] else 0
            layers["kernels.validate_scaling_eff"] = eff
            layers["worker_daemon.udf_floor_s"] = udf_floor_s(spark, cpus)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    report["setup"] = setup
    e2e["setup_s"] = sum(setup.values())
    if traced_crawl:
        layers.update(kernel_timings(job))
        table, ok = _finish_trace(job, app_id, report)
        layers.update(table)
        attempted += 1
        failed += 0 if ok else 1
    print(json.dumps(dict(attempted=attempted, failed=failed, e2e=e2e,
                          layers=layers, report=report)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
