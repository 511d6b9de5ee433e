"""The repo's command-line scripts: bench.py's query-subset knob and
scripts/gen_sf.py's replica builder."""

import importlib.util
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_only_rejects_unknown_names():
    """An unknown SPARK_GRAFT_BENCH_ONLY name fails before any Spark
    work with a ValueError listing the unknown and the declared names,
    and nothing is printed on stdout (the JSON channel)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_ONLY="q1_pricing_summary, no_such_query",
        SPARK_GRAFT_BENCH_OUT=os.devnull,
    )
    env.pop("SPARK_GRAFT_BENCH_RUNS", None)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
    err = proc.stderr.strip().splitlines()[-1]
    assert err.startswith("ValueError:")
    assert "['no_such_query']" in err
    assert "declared queries are: " in err and "q1_pricing_summary" in err


def _gen_sf():
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "scripts", "gen_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gen_sf_replica_zero_is_the_source_table():
    """Replica 0 of every table -- documents included -- is the source
    table untouched: its n_chars is not recomputed, even when the
    source counts something other than code points."""
    pa = pytest.importorskip("pyarrow")
    gen_sf = _gen_sf()
    docs = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": ["naïve café", "plain"],
        "n_chars": pa.array([12, 5], pa.int64()),  # UTF-8 bytes
    })
    assert gen_sf._replica("documents", docs, 0).equals(docs)
    part = pa.table({"p_partkey": pa.array([7], pa.int64())})
    assert gen_sf._replica("part", part, 0).equals(part)
    shifted = gen_sf._replica("documents", docs, 1)
    assert shifted.column("doc_id").to_pylist() == [1_000_001, 1_000_002]
    assert shifted.column("n_chars").to_pylist() == [12, 6]  # code points
