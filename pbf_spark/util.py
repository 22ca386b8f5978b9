"""Small shared helpers."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def small_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Create a small DataFrame without the slow Python-RDD fan-out.

    ``spark.createDataFrame(list, schema)`` parallelizes across
    defaultParallelism slices — 32 Python worker round-trips for a
    handful of rows (measured ~30 s for 2k rows in this env). Routing
    through one slice keeps it a single task; for flat schemas prefer
    ``spark.createDataFrame(pandas.DataFrame(...))`` (Arrow path).
    """
    sc = spark.sparkContext
    return spark.createDataFrame(sc.parallelize(rows, numSlices=1), schema)


class CallScope:
    """Owner of the caches and checkpoints one operator call makes.

    ``with CallScope() as scope:`` — every frame handed to :meth:`own`
    (a ``persist()``ed or ``localCheckpoint()``ed frame, or the
    materialized result of an inner operator call) is freed when the
    block exits, whether the call returns or raises, so no call is ever
    served a previous call's cache and executor storage does not grow
    with the number of calls or rounds. The result an operator returns
    must not depend on a frame its scope owns: it is materialized first
    with an eager ``localCheckpoint()`` the scope does not own, and the
    caller owns that. One scope belongs to one call; concurrent calls
    each make their own. Two concurrent calls that persist an identical
    plan share one SQL cache entry, and the first to finish frees it:
    the other recomputes what it still reads, with the same answer.
    """

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def __enter__(self) -> "CallScope":
        return self

    def __exit__(self, *exc) -> None:
        while self._held:
            _free(self._held.pop())

    def own(self, df: DataFrame) -> DataFrame:
        """Free ``df`` when the call ends; returns ``df``."""
        self._held.append(df)
        return df

    def release(self, df: DataFrame) -> None:
        """Free an owned ``df`` now, e.g. a round an iterative operator
        has superseded."""
        self._held = [h for h in self._held if h is not df]
        _free(df)


def _free(df: DataFrame) -> None:
    """Release a persisted frame's SQL cache entry, or a checkpointed
    frame's stored RDD. ``df.unpersist()`` does not touch a
    localCheckpoint (RDD-level storage), and ``queryExecution().toRdd()``
    is a fresh RDD over it; the stored RDD is the one the frame's
    ``LogicalRDD`` plan node wraps. Best-effort: a failure (the session
    is already gone) means storage pressure, never wrong results."""
    try:
        if df.is_cached:
            df.unpersist()
        else:
            df._jdf.logicalPlan().rdd().unpersist(False)
    except Py4JError:
        pass
