"""Round-13 optimization pins: the mmr_rerank symmetric-sims contract
(canonical i<j pair join must be value-identical to the 2x
bidirectional-union path) and the k-core memo's convergence guard
(the memoized fixed-8 peel is served to kcore_items_converged only
when its `converged` witness is true; otherwise a real
until-converged peel runs)."""

import os

import pytest

F = pytest.importorskip("pyspark.sql.functions")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


def test_mmr_symmetric_equals_bidir_union(spark):
    """symmetric=True over a canonical (ia < ib) similarity table is
    row-identical to the default path over its explicit 2x
    bidirectional union — including users whose candidates share no
    sims (map absent -> penalty 0) and pool-exhaustion tails."""
    from recmetrics_pyspark_spark.operators.recommend import mmr_rerank

    cands = spark.createDataFrame(
        [
            (1, 10, 1.0), (1, 11, 0.95), (1, 20, 0.6), (1, 21, 0.59),
            (2, 10, 0.8), (2, 30, 0.7),            # no sims between them
            (3, 11, 0.4),                           # single-candidate pool
        ],
        ["user_id", "item_id", "score"],
    )
    canon = spark.createDataFrame(
        [(10, 11, 0.9), (10, 20, 0.05), (11, 20, 0.05), (20, 21, 0.8)],
        ["ia", "ib", "sim"],
    )
    bidir = canon.unionByName(
        canon.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "sim"
        )
    )
    old = sorted(map(tuple, mmr_rerank(cands, bidir, k=3, lam=0.5).collect()))
    new = sorted(
        map(
            tuple,
            mmr_rerank(cands, canon, k=3, lam=0.5, symmetric=True).collect(),
        )
    )
    assert old == new
    assert len(new) > 0


def _run_kcore_guard(spark, sf, fixed8, pairs, k, max_rounds=None):
    """kcore_items_converged twice over a memoized fixed-8 peel
    ``fixed8``, with the corpus pair table swapped for ``pairs``;
    returns (rows of each call, number of pair-table builds)."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark import cache

    cache.memo("kcore", spark, sf, lambda: fixed8)
    calls = {"n": 0}

    def fake_pairs(*a, **kw):
        calls["n"] += 1
        return pairs

    orig = (e.R.interactions, e.M.item_similarity_pairs, e._KCORE_K,
            e._KCORE_MAX_ROUNDS)
    e.R.interactions = lambda spark, sf: None
    e.M.item_similarity_pairs = fake_pairs
    e._KCORE_K = k
    if max_rounds is not None:
        e._KCORE_MAX_ROUNDS = max_rounds
    try:
        rows = [
            e._kcore_items_converged(spark, sf).collect() for _ in range(2)
        ]
    finally:
        (e.R.interactions, e.M.item_similarity_pairs, e._KCORE_K,
         e._KCORE_MAX_ROUNDS) = orig
        cache.clear()
    return rows, calls["n"]


def _path_graph(spark, n=25):
    """Path 0-1-...-(n-1): with k=2 each peel only removes the two
    endpoints, so 8 rounds leave a non-empty superset, converged=false."""
    from recmetrics_pyspark_spark.operators.graph import k_core_decompose

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["ia", "ib"]
    )
    fixed8 = k_core_decompose(pairs, k=2, rounds=8)
    rows8 = fixed8.collect()
    assert rows8 and not rows8[0]["converged"]  # precondition violated
    return pairs, fixed8


def test_kcore_converged_guard_falls_back_on_unconverged_memo(spark):
    """If the memoized fixed-8 peel did NOT converge (adversarial
    graph: a long path peels only from the ends), the declared
    until-converged query must NOT serve the superset table — it
    runs a real until-converged peel instead (round-12 verdict
    item 5), once per session: the second call reads the fallback's
    own memo."""
    pairs, fixed8 = _path_graph(spark)
    (first, second), n_builds = _run_kcore_guard(
        spark, "<r13-kcore-guard>", fixed8, pairs, k=2
    )
    assert n_builds == 1  # the fallback peel ran, and only once
    # a 25-node path has NO 2-core: the true fixed point is empty
    assert first == [] and second == []


def test_kcore_converged_fallback_raises_when_backstop_bites(spark):
    """A fallback peel that is still unconverged at max_rounds raises
    instead of returning a superset of the core."""
    pairs, fixed8 = _path_graph(spark)
    with pytest.raises(ValueError, match="max_rounds=2"):
        _run_kcore_guard(
            spark, "<r13-kcore-backstop>", fixed8, pairs, k=2, max_rounds=2
        )


def test_kcore_converged_guard_serves_converged_memo(spark):
    """Happy path: a memoized table whose witness is true is served
    as-is (no rebuild)."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark import cache
    from recmetrics_pyspark_spark.operators.graph import k_core_decompose

    # triangle: already a 2-core, converges in round 1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], ["ia", "ib"]
    )
    memo = k_core_decompose(pairs, k=2, rounds=8)
    cache.memo("kcore", spark, "<r13-kcore-happy>", lambda: memo)

    def boom(*a, **kw):  # the fallback must NOT run
        raise AssertionError("fallback peel ran on a converged memo")

    orig_sims = e.M.item_similarity_pairs
    e.M.item_similarity_pairs = boom
    try:
        out = e._kcore_items_converged(spark, "<r13-kcore-happy>")
        rows = sorted(r["node"] for r in out.collect())
    finally:
        e.M.item_similarity_pairs = orig_sims
        cache.clear()

    assert rows == [1, 2, 3]
