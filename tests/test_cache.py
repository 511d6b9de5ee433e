"""The session cache (recmetrics_pyspark_spark/cache.py): one storage
guard for every persisted memo, and one release call that frees the
blocks every memo entry holds."""

import os

import pytest

pytest.importorskip("pyspark")

from tests.oracle import SF_DIR_SMALL  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", SF_DIR_SMALL)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


def _cached(df):
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_persisted_memos_recached_after_clear_cache(spark):
    """spark.catalog.clearCache() drops every persisted memo frame;
    the next hit on each memo persists the SAME frame again instead of
    serving it uncached for the rest of the session."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark import cache
    from recmetrics_pyspark_spark.operators import recommend as R

    getters = {
        "interactions": lambda: R.interactions(
            spark, SF_DIR, with_rating=True
        ),
        "item_recs": lambda: e._item_recs(spark, SF_DIR),
        "distinct_pairs": lambda: R.distinct_pairs(spark, SF_DIR),
    }
    cache.clear()
    try:
        first = {name: get() for name, get in getters.items()}
        assert all(_cached(df) for df in first.values())
        spark.catalog.clearCache()
        assert not any(_cached(df) for df in first.values())
        for name, get in getters.items():
            again = get()
            assert again is first[name]  # a memo hit, not a rebuild
            assert _cached(again), name
    finally:
        cache.clear()


def test_clear_releases_every_memo_rdd(spark):
    """After cache.clear(), none of the RDDs held by memo entries --
    persisted frames' cached buffers and checkpointed frames' RDDs,
    including frames inside tuple values -- is still persistent."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark import cache

    jsc = spark.sparkContext._jsc

    def persistent():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    cache.clear()
    qs = e.queries()
    for name in (
        "coverage",
        "item_based_recommendations",
        "arena_bt_ratings",
        "kcore_items",
    ):
        qs[name](spark, SF_DIR).collect()
    ids = set()
    for value, _ in cache._ENTRIES.values():
        for df in cache._frames(value):
            qe = df._jdf.queryExecution()
            if qe.withCachedData().nodeName() == "InMemoryRelation":
                builder = qe.withCachedData().cacheBuilder()
                ids.add(builder.cachedColumnBuffers().id())
            if qe.analyzed().nodeName() == "LogicalRDD":
                ids.add(qe.analyzed().rdd().id())
    assert len(ids) >= 8 and ids <= persistent()
    cache.clear()
    assert not cache._ENTRIES
    assert not ids & persistent()
