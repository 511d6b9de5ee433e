"""Tracing for the benchmark's traced run, recorded from outside the program.

Spans are taken at the calls into each layer: the query callable
(``entry``), ``sources.io.load_table`` and every ``DataFrameReader.parquet``
call under it (``sources``), ``queryExecution().executedPlan()``
(``catalyst``) and the action (``exec``). While a span is open its layer
is set as a Spark local property, so every job it submits carries the
layer, next to the query's job group, in Spark's own event log; the task
metrics per layer are read back from that log after the session stops.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

LAYER_PROPERTY = "perfbench.layer"


class Tracer:
    """Spans kept in memory; ``query`` names the query they belong to."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.query: str | None = None
        self._stack: list[int] = []
        self._restore: list = []

    @contextmanager
    def span(self, layer: str, name: str = ""):
        parent = self._stack[-1] if self._stack else None
        rec = {"layer": layer, "name": name, "query": self.query,
               "parent": parent, "start": time.perf_counter()}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self.sc.setLocalProperty(LAYER_PROPERTY, layer)
        try:
            yield
        finally:
            self._stack.pop()
            self.sc.setLocalProperty(
                LAYER_PROPERTY,
                self.spans[parent]["layer"] if parent is not None else None)
            # after the py4j call, so that consecutive spans leave no gap
            rec["end"] = time.perf_counter()

    def install(self) -> None:
        """Wrap the ``sources`` entry points: ``load_table`` wherever a
        module bound it by name, and ``DataFrameReader.parquet``."""
        from pyspark.sql.readwriter import DataFrameReader
        from recmetrics_pyspark_spark.sources import io

        load_table, parquet = io.load_table, DataFrameReader.parquet

        def traced_load_table(spark, sf_dir, name):
            with self.span("sources", f"load_table:{name}"):
                return load_table(spark, sf_dir, name)

        def traced_parquet(reader, *paths, **options):
            with self.span("sources", "parquet"):
                return parquet(reader, *paths, **options)

        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is load_table:
                setattr(mod, "load_table", traced_load_table)
                self._restore.append((mod, "load_table", load_table))
        DataFrameReader.parquet = traced_parquet
        self._restore.append((DataFrameReader, "parquet", parquet))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def query_spans(self, query: str) -> list[dict]:
        return [s for s in self.spans if s["query"] == query]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def split_query(spans: list[dict]) -> dict:
    """Layer split of one query's spans: sources time and reads, entry
    self time (build minus the sources spans inside it), plan, action."""
    def dur(layer):
        return sum(s["end"] - s["start"] for s in spans
                   if s["layer"] == layer and s["parent"] is None)

    outer_sources = [
        (s["start"], s["end"]) for s in spans if s["layer"] == "sources"
    ]
    read_s = _covered(outer_sources)
    return {
        "read_s": read_s,
        "parquet_reads": sum(1 for s in spans if s["name"] == "parquet"),
        "build_s": dur("entry") - read_s,
        "plan_s": dur("catalyst"),
        "action_s": dur("exec"),
    }


def read_event_log(path: str) -> dict:
    """Per (job group, layer) totals from an uncompressed Spark event log:
    jobs, job seconds, stages run, and the task metrics of those stages."""
    agg: dict = defaultdict(lambda: defaultdict(float))
    stage_key: dict = {}
    job_key: dict = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id"),
                       props.get(LAYER_PROPERTY))
                job_key[ev["Job ID"]] = (key, ev["Submission Time"])
                agg[key]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                key, start = job_key[ev["Job ID"]]
                agg[key]["job_ms"] += ev["Completion Time"] - start
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                key = (props.get("spark.jobGroup.id"),
                       props.get(LAYER_PROPERTY))
                stage_key[ev["Stage Info"]["Stage ID"]] = key
                agg[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                a = agg[stage_key[ev["Stage ID"]]]
                a["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                a["run_ms"] += m.get("Executor Run Time", 0)
                a["cpu_ns"] += m.get("Executor CPU Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
                a["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                a["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics", {})
                a["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    return {k: dict(v) for k, v in agg.items()}
