"""Spark event-log parser: attribute every job of a traced crawl to the
(round, lap) window it was submitted in.

The engine sets no job tags, so attribution is by time: the benchmark
records each round step's start, the engine records each lap's duration
(``CrawlResult.metrics[r]['t_<lap>']``), and together they rebuild one
window per (round, lap).  Time inside the crawl that no lap covers (the
done-check after the commit lap, checkpoints between steps) forms the
``untracked`` window of its round.

The log must be written uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os

UNTRACKED = "untracked"
FIELDS = ("jobs", "tasks", "executor_run_s", "shuffle_write_mb", "spill_mb", "gc_s")


def lap_windows(step_spans, metrics, start: float, end: float, laps) -> list:
    """[(t0, t1, round, lap)] covering [start, end] without overlap.

    ``step_spans[r]`` is round r's (step start, step end); lap durations
    come from ``metrics[r]``.  A lap that would run past its step end is
    clipped to it (lap times are rounded to milliseconds)."""
    windows = []
    t = start
    for r, ((s0, s1), m) in enumerate(zip(step_spans, metrics)):
        if s0 > t:
            windows.append((t, s0, r, UNTRACKED))
        t = s0
        for lap in laps:
            t1 = min(t + float(m.get(f"t_{lap}", 0.0)), s1)
            windows.append((t, t1, r, lap))
            t = t1
        nxt = step_spans[r + 1][0] if r + 1 < len(step_spans) else end
        if nxt > t:
            windows.append((t, nxt, r, UNTRACKED))
        t = max(t, nxt)
    return windows


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def find_log(log_dir: str, app_id: str) -> str:
    """The log of ``app_id``, complete once its context has stopped (Spark
    renames it from ``<app_id>.inprogress`` then)."""
    p = os.path.join(log_dir, app_id)
    if not os.path.isfile(p):
        raise FileNotFoundError(f"no finished event log for {app_id} under {log_dir}")
    return p


def job_stats(events) -> dict:
    """job id → {submit, tasks, executor_run_s, shuffle_write_mb, spill_mb,
    gc_s}.  A task counts toward the first job that lists its stage (later
    jobs list reused stages as skipped)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = dict(submit=ev["Submission Time"] / 1000.0, tasks=0,
                             executor_run_s=0.0, shuffle_write_mb=0.0,
                             spill_mb=0.0, gc_s=0.0)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if jid is None or not tm:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            j["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            j["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics", {})
            j["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            j["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / 1e6
    return jobs


def attribute(jobs: dict, windows: list) -> dict:
    """(round, lap) → summed FIELDS over the jobs submitted in its window;
    jobs submitted outside every window are left out."""
    table: dict[tuple[int, str], dict] = {}
    for j in jobs.values():
        for t0, t1, rnd, lap in windows:
            if t0 <= j["submit"] < t1:
                row = table.setdefault((rnd, lap), {f: 0 for f in FIELDS})
                row["jobs"] += 1
                for f in FIELDS[1:]:
                    row[f] += j[f]
                break
    return table


def per_lap(table: dict, laps) -> dict:
    """Sum a (round, lap) table over rounds: lap → FIELDS."""
    out = {lap: {f: 0 for f in FIELDS} for lap in (*laps, UNTRACKED)}
    for (_, lap), row in table.items():
        for f in FIELDS:
            out[lap][f] += row[f]
    return out


def wall_check(step_spans, metrics, jobs: dict, table: dict, start: float,
               end: float, laps, tol_s: float) -> dict:
    """Checks of the lap table that do not follow from how its windows are
    cut, so either can fail:

    - per round, the laps the engine recorded must fit inside the step span
      the benchmark measured around them (two independent clocks); what is
      left of the step (the done-check) is untracked;
    - every job submitted between ``start`` and ``end`` must be attributed
      to exactly one (round, lap) window.

    ``untracked_s`` is the crawl wall minus the recorded laps."""
    rounds = []
    for (s0, s1), m in zip(step_spans, metrics):
        lap_s = sum(float(m.get(f"t_{lap}", 0.0)) for lap in laps)
        rounds.append(dict(step_s=s1 - s0, laps_s=lap_s, overrun_s=lap_s - (s1 - s0)))
    lap_s = sum(r["laps_s"] for r in rounds)
    submitted = sum(1 for j in jobs.values() if start <= j["submit"] < end)
    attributed = sum(row["jobs"] for row in table.values())
    overrun = max((r["overrun_s"] for r in rounds), default=0.0)
    return dict(
        wall_s=end - start, laps_s=lap_s, untracked_s=end - start - lap_s,
        rounds=rounds, max_overrun_s=overrun, tolerance_s=tol_s,
        jobs_submitted=submitted, jobs_attributed=attributed,
        ok=overrun <= tol_s and len(rounds) == len(metrics) and submitted == attributed,
    )
