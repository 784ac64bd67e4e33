"""fastfilter_spark: PySpark-native approximate-membership filters and
sketches with the capabilities of FastFilter/xor_singleheader, plus the
training-data-pipeline operators around them.  See README.md."""

__version__ = "0.1.0"

from fastfilter_spark._worker import install_zip_invalidation_hook

install_zip_invalidation_hook()

from fastfilter_spark.operators.dist import (  # noqa: F401,E402
    ShardedFilter, build_sharded, semi_join_prune,
)
from fastfilter_spark.operators.local import (  # noqa: F401,E402
    FuseFilter, XorFilter, build_filter, filter_from_bytes,
)

__all__ = [
    "ShardedFilter", "build_sharded", "semi_join_prune",
    "FuseFilter", "XorFilter", "build_filter", "filter_from_bytes",
]
