"""Task sizing for the library's own map-side Python folds.

Every Python task pays a fixed start-up cost before any user code runs:
about 0.07 CPU-s on CPython 3.11 (a trivial pandas UDF, Spark local[4]).
It was about 0.27 CPU-s before the package's zip-invalidation hook
(``fastfilter_spark/_worker.py``) stopped PySpark's ``setup_spark_files``
from re-reading every zip archive on the worker's path on every task.
A sketch fold over a few MB that runs one task per scan split still
spends much of its CPU on that set-up, not on rows.

``size_python_fold`` sizes such a fold by input bytes instead:
``ceil(estimated plan bytes / spark.sql.files.openCostInBytes)`` tasks,
where ``openCostInBytes`` is the unit Spark's own file-scan sizing
already charges for a task's fixed cost.  It only ever lowers the task
count, and it leaves a plan untouched when the estimate is unknown or
spans ``defaultParallelism`` units, so large inputs keep their shape.

Use it only in front of a fold whose output is a few blobs per task
(sketch partials).  The filter probe and build keep their own plans: a
probe runs inside the caller's plan, and AQE already sizes the build's
grouped map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["fold_partitions", "size_python_fold"]


def fold_partitions(df: DataFrame) -> int | None:
    """The partition count ``size_python_fold`` coalesces ``df`` to, or
    ``None`` when it keeps ``df`` as it is.

    The estimate is the optimized plan's ``stats().sizeInBytes``.  A plan
    Spark cannot size (an RDD-backed relation) reports
    ``spark.sql.defaultSizeInBytes`` and counts as unknown; so does a
    streaming plan, whose size is per micro-batch.
    """
    if df.isStreaming:
        return None
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))
    if size >= conf.defaultSizeInBytes():
        return None
    units = max(1, -(-size // conf.filesOpenCostInBytes()))
    if units >= df.sparkSession.sparkContext.defaultParallelism:
        return None
    return units


def size_python_fold(df: DataFrame) -> DataFrame:
    """``df`` coalesced to ``fold_partitions(df)`` partitions, or ``df``
    itself when that is ``None``.  Coalesce never shuffles and never
    raises the partition count: an input already narrower than the
    target keeps its own count."""
    n = fold_partitions(df)
    return df if n is None else df.coalesce(n)

