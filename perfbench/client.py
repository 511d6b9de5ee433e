#!/usr/bin/env python3
"""One benchmark session, in a process of its own (started by ``run.py``).

    python3 perfbench/client.py --spawned-at T --corpus DIR --out FILE \
        --workload NAME [--trace 0|1] [--cold-only]

``--spawned-at`` is the ``time.monotonic()`` reading taken just before
this process was started, so ``setup_s`` runs from process start,
Python imports included, to a warmed session from ``get_spark``. One
client in one thread then runs the workload's passes as a closed loop
(see ``PASSES``; only the cold pass with ``--cold-only``), checks each
result outside its timed span, and writes every query row to ``--out``
as JSON. The session's JVM is stopped and waited
for before the process exits.
"""

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# cold: the first pass in the session; then CYCLES times a warm pass,
# reading what the passes before it cached, and an after-clear pass, run
# after the public release calls. Two samples of each, interleaved, so
# that a short burst of load from elsewhere on the host slows only one.
CYCLES = 2
PASSES = ("cold",) + tuple(
    f"{kind}.{i}" for i in range(1, CYCLES + 1)
    for kind in ("warm", "after_clear"))


def host_sample() -> dict:
    """Load averages and cumulative CPU jiffies (total, steal)."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": load, "jiffies": sum(cpu), "steal": cpu[7]}


def steal_share(before: dict, after: dict) -> float:
    """The share of CPU time the hypervisor gave to other guests."""
    total = after["jiffies"] - before["jiffies"]
    return (after["steal"] - before["steal"]) / total if total else 0.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--spawned-at", required=True, type=float)
    p.add_argument("--corpus", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cold-only", action="store_true",
                   help="run only the cold pass of the workload")
    return p.parse_args(argv)


def warm_up(spark):
    """The session's first job: the one-off cost every later query skips."""
    spark.range(1000).selectExpr("sum(id)").collect()


def stop(spark):
    """Stop the session and its JVM, and wait until the JVM has ended."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def storage(spark):
    """Persisted RDDs holding blocks, and their memory + disk MB."""
    infos = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
             if i.numCachedPartitions() > 0]
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def release(spark):
    """The public release calls a long session makes between corpora."""
    from recmetrics_pyspark_spark.operators.graph import clear_adjacency_cache
    from recmetrics_pyspark_spark.operators.recommend import (
        clear_interactions_cache,
    )
    from recmetrics_pyspark_spark.operators.similarity import (
        clear_trained_cache,
    )

    spark.catalog.clearCache()
    clear_interactions_cache()
    clear_adjacency_cache()
    clear_trained_cache()


class Client:
    """One closed-loop client: runs passes, times and checks each query."""

    def __init__(self, workload, queries, corpus_dir, expected):
        self.workload = workload
        self.queries = queries
        self.corpus_dir = corpus_dir
        self.expected = expected
        self.rows = []

    def run_pass(self, spark, label, tracer=None):
        from digest import digest

        for name, fn in self.queries:
            group = f"{self.workload}:{label}:{name}"
            spark.sparkContext.setJobGroup(group, name)
            row = {"pass": label, "query": name, "group": group}
            if tracer is not None:
                tracer.query = group
            before = host_sample()
            t0 = time.perf_counter()
            try:
                pdf = self._timed(spark, tracer, name, fn)
            except Exception as exc:  # a failed query is counted, not fatal
                pdf, error = None, exc
            row["wall_s"] = time.perf_counter() - t0
            row["steal_share"] = steal_share(before, host_sample())
            if pdf is None:
                row["error"] = f"{type(error).__name__}: {error}"[:500]
                print(f"[perfbench] {group} FAILED", file=sys.stderr)
                traceback.print_exception(error)
            else:
                row["rows"] = len(pdf)
                row["digest"] = digest(pdf)
                row["ok"] = row["digest"] == self.expected[name]["digest"]
                if not row["ok"]:
                    print(f"[perfbench] {group} WRONG: digest {row['digest']}"
                          f" != expected", file=sys.stderr)
            self.rows.append(row)

    def _timed(self, spark, tracer, name, fn):
        if tracer is None:
            return fn(spark, self.corpus_dir).toPandas()
        with tracer.span("entry", name):
            df = fn(spark, self.corpus_dir)
        with tracer.span("catalyst"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            return df.toPandas()


def run_workload(spark, args, out):
    import __spark_entry__ as entry
    from workloads import WORKLOADS, resolve

    workload = WORKLOADS[args.workload]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[f"sf{workload.sf}"]
    client = Client(workload.name, resolve(workload, entry.queries()),
                    args.corpus, expected)
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        tracer.install()
    for label in ("cold",) if args.cold_only else PASSES:
        if label.startswith("after_clear"):
            if "stored" not in out:
                out["stored"] = storage(spark)
            release(spark)
            out.setdefault("retained", storage(spark))
        client.run_pass(spark, label, tracer)
    out["rows"] = client.rows
    if tracer is not None:
        tracer.uninstall()
        out["app_id"] = spark.sparkContext.applicationId
        out["spans"] = {row["group"]: tracer.query_spans(row["group"])
                        for row in client.rows}


def main(argv):
    args = parse_args(argv)
    import __spark_entry__  # noqa: F401  (the query surface's imports)
    from recmetrics_pyspark_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    out = {"setup_s": time.monotonic() - args.spawned_at}
    try:
        run_workload(spark, args, out)
    finally:
        stop(spark)
    with open(args.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv[1:])
