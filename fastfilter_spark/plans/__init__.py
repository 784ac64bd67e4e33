"""Plan-level helpers: decisions made from a DataFrame's plan, not its rows."""

from fastfilter_spark.plans.sizing import (  # noqa: F401
    fold_partitions, size_python_fold,
)

__all__ = ["fold_partitions", "size_python_fold"]
