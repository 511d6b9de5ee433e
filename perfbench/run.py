#!/usr/bin/env python3
"""Layered benchmark of the declared query surface.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. A run builds the corpus for ``--seed``
(``corpus.py``) and then starts two sessions, one after the other, each
in a process of its own (``client.py``). In each, one client in one thread
submits the workload's declared queries (``__spark_entry__.queries()``)
one at a time on ``local[nproc]`` and collects each result before the next
(closed loop). The first session runs the cold pass only; the second runs
the passes in ``client.PASSES``: cold, then a warm and an after-clear pass
``client.CYCLES`` times. A traced run starts only the second session.
Every output is checked against ``expected.json`` outside the timed spans.
A run makes exactly these passes, whatever ``--seconds`` says: on 4 cores
they take longer than the 10 s that ``BENCHMARK.json`` asks for, so
``--seconds`` is only recorded.

``setup_s`` is the median of the two set-ups, each from process start to
a warmed session. A best pass takes each query's fastest time over the
passes of one kind. ``total_s`` is the total of the best cold pass; the
traced run reports the totals of the best warm and after-clear passes as
``cache.warm_total_s`` and ``cache.after_clear_total_s``. Load from
elsewhere on the host only ever slows a query down, so a query's fastest
time is its least disturbed one.
The last line of stdout is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

A query's time is the build (the query callable) plus the action that
collects its result. ``--trace 1`` adds the spans in ``spans.py`` and
Spark's event log; ``README.md`` explains its output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
from client import CYCLES, host_sample, steal_share  # noqa: E402
from workloads import WORKLOADS, resolve  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")
# Everything a run writes: "run/" (corpus, Spark scratch, event log) is
# emptied at the start of each run; "results/" keeps one file per run.
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, event_log_dir: str | None = None) -> None:
    """Environment for the sessions this process starts.

    The repository root goes on ``PYTHONPATH`` so that Python workers can
    import the package whatever the working directory; Spark's scratch
    space, temp files and warehouse stay under ``work``; the event log is
    switched on from outside ``get_spark``.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(ncpus())
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ])


def session(work: str, corpus_dir: str, n: int, workload: str,
            trace: int = 0, cold_only: bool = False) -> dict:
    """Start ``client.py`` and wait for it; return what it wrote, with
    each query row marked with the session number ``n``."""
    out = os.path.join(work, f"session{n}.json")
    cmd = [sys.executable, os.path.join(HERE, "client.py"),
           "--corpus", corpus_dir, "--out", out,
           "--workload", workload, "--trace", str(trace)]
    if cold_only:
        cmd.append("--cold-only")
    spawned_at = time.monotonic()
    subprocess.run(cmd + ["--spawned-at", repr(spawned_at)], check=True,
                   stdout=sys.stderr)
    with open(out) as fh:
        result = json.load(fh)
    for row in result["rows"]:
        row["session"] = n
    return result


def total(rows: list[dict]) -> float:
    return sum(r["wall_s"] for r in rows)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"[perfbench] no __spark_entry__.py in {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    with open(EXPECTED) as fh:
        expected = json.load(fh)[f"sf{workload.sf}"]

    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    event_log_dir = os.path.join(work, "eventlog") if args.trace else None
    prepare_env(work, event_log_dir)
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    try:
        resolve(workload, entry.queries())
    except ValueError as exc:
        print(f"[perfbench] {exc}", file=sys.stderr)
        return 2
    missing = [q for q in workload.queries if q not in expected]
    if missing:
        print(f"[perfbench] expected.json has no digest for {missing}",
              file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    host_before = host_sample()
    corpus_dir = corpus.build(workload.sf, args.seed,
                              os.path.join(work, "corpus"))
    # A traced run reports only per-layer metrics, which all come from the
    # session that runs every pass, so it skips the cold-only session.
    sessions = [] if args.trace else [
        session(work, corpus_dir, 1, workload.name, cold_only=True)]
    result = session(work, corpus_dir, 2, workload.name, args.trace)
    sessions.append(result)
    setups = [s["setup_s"] for s in sessions]
    host_after = host_sample()

    rows = [r for s in sessions for r in s["rows"]]
    passes: dict = {}
    for r in rows:
        label = r["pass"] if r["session"] == 2 else f"first_{r['pass']}"
        passes.setdefault(label, []).append(r)
    failed = sum(1 for r in rows if not r.get("ok"))

    def best_pass(kind: str) -> list[float]:
        """Each query's fastest time over the passes of one kind."""
        times: dict = {}
        for r in rows:
            if r["pass"].startswith(kind):
                times.setdefault(r["query"], []).append(r["wall_s"])
        return [min(t) for t in times.values()]

    if args.trace:
        metrics = per_layer(result, passes,
                            os.path.join(event_log_dir, result["app_id"]))
        metrics["cache.warm_total_s"] = (sum(best_pass("warm")), "s")
        metrics["cache.after_clear_total_s"] = (
            sum(best_pass("after_clear")), "s")
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "total_s": (sum(best_pass("cold")), "s"),
        }
    summary = {
        "workload": workload.name, "sf": workload.sf, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "cycles": CYCLES,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "host": {"before": host_before, "after": host_after,
                 "steal_share": steal_share(host_before, host_after)},
        "run_wall_s": time.perf_counter() - t_run, "setups_s": setups,
        "pass_totals_s": {label: total(p) for label, p in passes.items()},
        "stored": result["stored"], "retained": result["retained"],
        "attempted": len(rows), "failed": failed,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    name = f"{workload.name}-seed{args.seed}-trace{args.trace}.json"
    out = os.path.join(OUT, "results", name)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"summary": summary, "queries": rows}, fh, indent=1)
    print(f"[perfbench] {json.dumps(summary)}", file=sys.stderr)
    print(f"[perfbench] per-query rows: {out}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(rows),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer(result: dict, passes: dict, event_log: str) -> dict:
    """Per-layer metrics of a traced run: its cold pass, plus the cache
    layer's view of the warm and release phases. Also writes each query's
    layer split and event-log totals into its row."""
    from spans import read_event_log, split_query

    by_group: dict = {}
    for (group, layer), vals in read_event_log(event_log).items():
        by_group.setdefault(group, {})[layer] = vals
    os.remove(event_log)
    for row in result["rows"]:
        row.update(split_query(result["spans"][row["group"]]))
        row["layers"] = by_group.get(row["group"], {})
    cold = passes["cold"]

    def pass_sum(rows, key, layer=None):
        return sum(v.get(key, 0) for r in rows
                   for lyr, v in r["layers"].items()
                   if layer is None or lyr == layer)

    def ex(key, scale=1.0):
        return pass_sum(cold, key, "exec") / scale

    action_s = sum(r["action_s"] for r in cold)
    return {
        "trace.total_s": (total(cold), "s"),
        "sources.parquet_reads": (sum(r["parquet_reads"] for r in cold),
                                  "count"),
        "sources.read_s": (sum(r["read_s"] for r in cold), "s"),
        "sources.read_jobs": (int(pass_sum(cold, "jobs", "sources")), "count"),
        "entry.build_s": (sum(r["build_s"] for r in cold), "s"),
        "entry.eager_jobs": (int(pass_sum(cold, "jobs", "entry")), "count"),
        "entry.eager_job_s": (pass_sum(cold, "job_ms", "entry") / 1e3, "s"),
        "catalyst.plan_s": (sum(r["plan_s"] for r in cold), "s"),
        "exec.action_s": (action_s, "s"),
        "exec.jobs": (int(ex("jobs")), "count"),
        "exec.stages": (int(ex("stages")), "count"),
        "exec.tasks": (int(ex("tasks")), "count"),
        "exec.task_run_s": (ex("run_ms", 1e3), "s"),
        "exec.task_cpu_s": (ex("cpu_ns", 1e9), "s"),
        "exec.gc_s": (ex("gc_ms", 1e3), "s"),
        "exec.busy_frac": (ex("run_ms", 1e3) / (ncpus() * action_s), "share"),
        "exec.input_mb": (ex("input_b", 1e6), "MB"),
        "exec.shuffle_read_mb": (ex("shuffle_read_b", 1e6), "MB"),
        "exec.shuffle_write_mb": (ex("shuffle_write_b", 1e6), "MB"),
        "exec.spill_mb": (ex("spill_b", 1e6), "MB"),
        "exec.failed_tasks": (int(ex("failed_tasks")), "count"),
        "cache.persisted_rdds": (result["stored"][0], "count"),
        "cache.stored_mb": (result["stored"][1], "MB"),
        "cache.retained_rdds": (result["retained"][0], "count"),
        "cache.retained_mb": (result["retained"][1], "MB"),
        "cache.warm_job_ratio": (
            pass_sum(passes["warm.1"], "jobs") / pass_sum(cold, "jobs"),
            "share"),
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
