"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The module-scoped ``traced_runs`` fixture makes two traced runs of
``surface-floor`` (about two minutes); of the other tests only
``test_python_workers_import_from_any_cwd`` starts a Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import client  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402
from digest import digest  # noqa: E402
from tests.oracle import run_oracle  # noqa: E402
from workloads import WORKLOADS, Workload, resolve  # noqa: E402

SF_DIR = os.path.join(corpus.DATA_DIR, "sf0.001")

with open(run.EXPECTED) as fh:
    EXPECTED = json.load(fh)["sf0.001"]


def _oracle(name: str) -> pd.DataFrame:
    import __spark_entry__ as entry

    return run_oracle(entry.oracle_sql()[name], SF_DIR)


class _StubContext:
    def setJobGroup(self, group, description):
        pass


class _StubSpark:
    sparkContext = _StubContext()


class _Result:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_check_fails_on_wrong_result():
    # guard the guard, as harness_detects_mismatch does for the oracle lane
    name = "q1_pricing_summary"
    right = _oracle(name)
    wrong = right.copy()
    wrong.iloc[0, wrong.columns.get_loc("sum_qty")] += 1.0
    shuffled = right.sample(frac=1.0, random_state=0)
    assert digest(right) == EXPECTED[name]["digest"]
    assert digest(shuffled) == EXPECTED[name]["digest"]

    outcomes = {}
    for label, pdf in (("right", shuffled), ("wrong", wrong),
                       ("short", right.iloc[1:])):
        c = client.Client("stub", [(name, lambda s, d, pdf=pdf: _Result(pdf))],
                          SF_DIR, EXPECTED)
        c.run_pass(_StubSpark(), label)
        outcomes[label] = c.rows[0]["ok"]
    assert outcomes == {"right": True, "wrong": False, "short": False}


def test_unknown_query_fails_at_startup():
    declared = {"coverage": None, "novelty": None}
    with pytest.raises(ValueError) as err:
        resolve(Workload("w", "0.001", ("coverage", "no_such_q")),
                declared)
    assert "no_such_q" in str(err.value) and "novelty" in str(err.value)
    for w in WORKLOADS.values():
        assert all(q in EXPECTED for q in w.queries), w.name


def test_permuted_corpus_keeps_schema_and_rows(tmp_path):
    same = corpus.build("0.001", corpus.UNPERMUTED_SEED, str(tmp_path / "a"))
    perm = corpus.build("0.001", 7, str(tmp_path / "b"))
    for fname in sorted(os.listdir(SF_DIR)):
        src = os.path.join(SF_DIR, fname)
        with open(src, "rb") as a, open(os.path.join(same, fname), "rb") as b:
            assert a.read() == b.read(), fname
        t0, t1 = pq.read_table(src), pq.read_table(os.path.join(perm, fname))
        assert t1.schema.equals(t0.schema, check_metadata=True), fname
        if t0.num_rows > 1 and fname != "region.parquet":
            assert not t1.equals(t0), fname
        key = [(c, "ascending") for c in t0.column_names
               if c != "embedding"]
        assert t1.sort_by(key).equals(t0.sort_by(key)), fname


def test_no_repository_fails_without_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "surface-floor",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout == ""


_WORKER_SCRIPT = """
import sys
sys.path[:0] = [{here!r}, {root!r}]
import run
run.prepare_env({work!r})
import __spark_entry__ as entry
from recmetrics_pyspark_spark import get_spark
spark = get_spark("perfbench-selftest")
try:
    print(len(entry.queries()["media_features"](spark, {sf!r}).toPandas()))
finally:
    spark.stop()
"""


def test_python_workers_import_from_any_cwd(tmp_path):
    # media_features runs a mapInPandas UDF: its Python workers must import
    # the package although the working directory is not the repository
    script = _WORKER_SCRIPT.format(here=HERE, root=ROOT, sf=SF_DIR,
                                   work=str(tmp_path / "work"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.strip().splitlines()[-1]) > 0


@pytest.fixture(scope="module")
def traced_runs():
    """Two traced surface-floor runs on different seeds."""
    out = []
    for seed in (3, 4):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "surface-floor", "--seed", str(seed), "--seconds", "1",
             "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        path = os.path.join(run.OUT, "results",
                            f"surface-floor-seed{seed}-trace1.json")
        with open(path) as fh:
            out.append((result, json.load(fh)))
    return out


def test_traced_run_reports_every_per_layer_metric(traced_runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"] for m in json.load(fh)["per_layer"]}
    for result, _ in traced_runs:
        assert result["correct"] and result["failed"] == 0
        assert set(result["metrics"]) == declared


def test_spans_reconcile_with_query_wall_time(traced_runs):
    for _, detail in traced_runs:
        for row in detail["queries"]:
            covered = (row["read_s"] + row["build_s"] + row["plan_s"]
                       + row["action_s"])
            assert covered <= row["wall_s"], row["group"]
            assert row["wall_s"] - covered < 0.01 + 0.02 * row["wall_s"], (
                row["group"], row["wall_s"], covered)


def test_read_and_job_counts_repeat_exactly(traced_runs):
    (a, _), (b, _) = traced_runs
    for key in ("sources.parquet_reads", "exec.jobs"):
        assert a["metrics"][key]["value"] == b["metrics"][key]["value"], key
