"""Task sizing for the library's small map-side stages.

Every task pays a fixed start-up cost before any row is read.  A Python
task pays about 0.07 CPU-s on CPython 3.11 (a trivial pandas UDF, Spark
local[4]); it was about 0.27 CPU-s before the package's zip-invalidation
hook (``fastfilter_spark/_worker.py``) stopped PySpark's
``setup_spark_files`` from re-reading every zip archive on the worker's
path on every task.  A JVM task costs far less, but a stage over a few
MB that runs one task per scan split still spends much of its CPU on
set-up, and a write stage adds one file per task, each with its own
chmod forks on a local filesystem.

``size_python_fold`` sizes such a stage by input bytes instead:
``ceil(estimated plan bytes / spark.sql.files.openCostInBytes)`` tasks,
where ``openCostInBytes`` is the unit Spark's own file-scan sizing
already charges for a task's fixed cost.  It only ever lowers the task
count, and it leaves a plan untouched when the estimate is unknown or
spans ``defaultParallelism`` units, so large inputs keep their shape.

Its callers, each a stage whose output is small or whose input is:

- the sketch folds, JVM (native/SketchFold.java) and Python alike:
  ``sketch_agg._fold`` (every global sketch), ``sketch_by_key``'s
  partials and ``kmv._bottomk_partials``;
- ``StreamingFilterProbe.process_batch``'s sink append, so a small
  micro-batch writes one file;
- ``IncrementalFilterMaintainer._latest_rows``, the latest-wins read
  of the filter log (``current_table``, ``compact``), so a small log
  resolves in one partition with no Exchange under its Window.

The filter probe and build keep their own plans: a probe runs inside
the caller's plan, and AQE already sizes the build's shuffle.
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

