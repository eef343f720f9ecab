"""perfbench: the repository benchmark (one command, every workload).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

- ``crawl_payload``: durable 3-round crawl with images validated in the
  loop; its seed round is the warm-up, the two rounds after it are timed
  and cross one frontier compaction;
- ``dedup_queries``: 15 ``abwcf_spark.queries`` entries through the noop
  sink, after an oracle-checked warm pass.

A run has three processes, started one after another:

1. the input generator (``inputs.py``): builds and caches the corpora,
   draws the seeded robots/seeds tables, computes the oracle digest;
2. the workload process (``worker.py``): one Spark session at
   ``local[nproc]``, timed for ``--seconds`` of work, then checked;
3. this process, which samples the workload process tree's memory and
   prints the result as the last stdout line:
   ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
   metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Everything the run writes goes under ``perfbench/.work/``; the full
report of the last run of each (workload, seed, trace) is kept in
``perfbench/.work/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("crawl_payload", "dedup_queries")
# layers a workload does not exercise report 0 (no work done there)
EXERCISED = {
    "crawl_payload": ("engine.", "operators.", "kernels.", "worker_daemon."),
    "dedup_queries": ("queries.",),
}
GENERATOR_TIMEOUT_S = 840
WORKER_TIMEOUT_S = 175
MEM_POLL_S = 0.25


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_mb(pid: int) -> float:
    """Proportional set size of ``pid`` and all its descendants (the JVM
    and its Python workers), in MB: pages the forked Python workers share
    are counted once, split between their sharers."""
    kids, todo, total = _children(), [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1e3


def run_worker(job: dict, env: dict) -> tuple[dict, float]:
    """Run the workload process in its own session; return its result and
    the peak memory (PSS, sampled) of its process tree, in MB."""
    log = open(os.path.join(WORK, "worker.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(job)],
        stdout=subprocess.PIPE, stderr=log, env=env, start_new_session=True,
        cwd=ROOT, text=True,
    )
    peak = 0.0
    deadline = time.time() + WORKER_TIMEOUT_S
    try:
        while proc.poll() is None:
            peak = max(peak, tree_pss_mb(proc.pid))
            if time.time() > deadline:
                _fail(f"workload process exceeded {WORKER_TIMEOUT_S} s")
            time.sleep(MEM_POLL_S)
        out = proc.stdout.read()
    finally:
        # the JVM and Python workers share the session: stop all of them
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        log.close()
    if proc.returncode != 0:
        _fail(f"workload process exited {proc.returncode}; see {log.name}")
    lines = out.strip().splitlines()
    if not lines:
        _fail(f"workload process printed no result; see {log.name}")
    return json.loads(lines[-1]), peak


def recorded_walls(workload: str) -> list[float]:
    """``wall_s`` of every untraced run of ``workload`` reported in the work
    directory: the reference a traced run measures its overhead against."""
    rdir = os.path.join(WORK, "reports")
    names = os.listdir(rdir) if os.path.isdir(rdir) else []
    walls = []
    for n in names:
        if n.startswith(f"{workload}-s") and n.endswith("-t0.json"):
            with open(os.path.join(rdir, n)) as f:
                walls.append(json.load(f)["e2e"]["wall_s"])
    return walls


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "abwcf_spark", "engine", "crawler.py")):
        _fail(f"no abwcf_spark sources under {ROOT}")
    if not os.path.isfile(spec_path):
        _fail(f"missing {spec_path}")
    with open(spec_path) as f:
        spec = json.load(f)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_DRIVER_MEM="2g", PYTHONDONTWRITEBYTECODE="1",
        # every JVM, spark-submit's launcher included, keeps its scratch
        # files in the work directory and writes no perf-data file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), args.workload,
         str(args.seed), WORK],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=GENERATOR_TIMEOUT_S,
    )
    if gen.returncode != 0:
        _fail(f"input generator failed:\n{gen.stderr[-2000:]}")
    job = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), cpus=len(os.sched_getaffinity(0)), work=WORK,
        inputs=json.loads(gen.stdout.strip().splitlines()[-1]),
        untraced_walls=recorded_walls(args.workload),
    )
    res, peak_mb = run_worker(job, env)
    res["e2e"]["peak_rss_mb"] = peak_mb

    if args.trace:
        wanted, got = spec["per_layer"], res["layers"]
        for m in wanted:
            if m["name"] not in got and not m["name"].startswith(
                EXERCISED[args.workload]
            ):
                got[m["name"]] = 0
    else:
        wanted, got = spec["end_to_end"], res["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        _fail(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}

    report = dict(args=vars(args), cpus=job["cpus"], report=res["report"],
                  e2e=res["e2e"], layers=res["layers"])
    rdir = os.path.join(WORK, "reports")
    os.makedirs(rdir, exist_ok=True)
    rpath = os.path.join(rdir, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(rpath, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"report: {os.path.relpath(rpath, ROOT)}")
    tc = res["report"].get("traced_crawl")
    if tc:
        wc = tc["wall_check"]
        print(f"traced crawl: wall {wc['wall_s']:.3f} s = laps {wc['laps_s']:.3f} s + "
              f"untracked {wc['untracked_s']:.3f} s; largest lap overrun of its "
              f"step {wc['max_overrun_s']:+.4f} s (tolerance {wc['tolerance_s']:.4f} s); "
              f"jobs attributed {wc['jobs_attributed']}/{wc['jobs_submitted']}; "
              f"{'OK' if wc['ok'] else 'FAILED'}; tracing overhead "
              f"{tc['overhead_s']:+.3f} s; payload-validation (commit/cands) "
              f"share of the wall {tc['commit_cands_share']:.3f}")
    for m in wanted:
        v = got[m["name"]]
        print(f"  {m['name']:<44} {v:>14.6g} {m['unit']}")
    print(json.dumps(dict(
        correct=res["failed"] == 0, attempted=res["attempted"],
        failed=res["failed"], metrics=metrics,
    )), flush=True)


if __name__ == "__main__":
    main()
