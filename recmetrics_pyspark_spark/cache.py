"""Session cache: the one owner of work shared across queries.

An intermediate that several queries read (the interactions frame, the
top-10 rec table, trained k-means centroids, ...) is built once per Spark
application through :func:`memo` and released by :func:`clear`. The
module adds the application id to every key; a caller passes only its
own identity: ``sf_dir.rstrip("/")`` for corpus-level tables, or the
input's analyzed-plan ``semanticHash()`` plus parameters. Each ``build``
keeps its own materialization (eager ``localCheckpoint``, ``persist()``
+ ``count()``, or lazy ``persist()``); a memo value is one DataFrame or
a tuple/dict holding several.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Iterator

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# (application id, name, key) -> (value, frames persisted when stored)
_ENTRIES: dict[tuple, tuple] = {}


def _frames(value) -> Iterator[DataFrame]:
    """Every DataFrame inside a memo value."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, dict):
        for v in value.values():
            yield from _frames(v)
    elif isinstance(value, tuple):
        for v in value:
            yield from _frames(v)


def _persisted(df: DataFrame) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def memo(name: str, spark: SparkSession, key: Hashable, build: Callable):
    """The value ``build()`` returned the first time ``(name, key)`` was
    asked for in this Spark application; ``build`` runs on a miss only.

    A frame that was persisted when it was stored and that
    ``spark.catalog.clearCache()`` has since dropped is persisted again,
    so a memo never serves a frame that recomputes its lineage for
    every reader."""
    k = (spark.sparkContext.applicationId, name, key)
    got = _ENTRIES.get(k)
    if got is None:
        value = build()
        got = _ENTRIES.setdefault(
            k, (value, [df for df in _frames(value) if _persisted(df)])
        )
    value, persisted = got
    for df in persisted:
        if not _persisted(df):
            df.persist()
    return value


def clear() -> None:
    """Release every memoized frame's blocks and forget every entry:
    persisted frames are unpersisted, and a checkpointed frame's
    ``LogicalRDD`` has its RDD unpersisted. Do not read a handle taken
    before ``clear()`` again: a released checkpoint raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    for value, _ in _ENTRIES.values():
        for df in _frames(value):
            try:
                if _persisted(df):
                    df.unpersist()
                plan = df._jdf.queryExecution().analyzed()
                if plan.nodeName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
            except Py4JError:  # its session is already stopped
                pass
    _ENTRIES.clear()
