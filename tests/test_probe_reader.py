"""FilterProbe.java reads filter payloads as they are stored, and the
join probe runs as a JVM cogroup.

Both Spark-side probes (the broadcast UDF and ``probe_via_join``) parse
each shard's wire header inside the JVM, so a payload the driver-side
reader (``filter_from_bytes``) refuses must fail there too, not probe
silently wrong.
"""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import (
    FILTER_TABLE_SCHEMA, ShardedFilter, probe_via_join)
from fastfilter_spark.operators.local import build_filter, filter_from_bytes

_KEYS = np.arange(1, 2001, dtype=np.int64) * 2654435761


def _foreign_fuse8() -> bytes:
    """A fuse8 payload whose SegmentLength field matches neither the 3-
    nor the 4-wise layout for its Size."""
    good = build_filter(_KEYS, "fuse8").to_bytes()
    seg_len = struct.unpack_from("<I", good, 12)[0]
    return good[:12] + struct.pack("<I", seg_len * 2) + good[16:]


def _truncated_xor8() -> bytes:
    return build_filter(_KEYS, "xor8").to_bytes()[:-5]


@pytest.mark.parametrize("kind, bad, match", [
    ("fuse8", _foreign_fuse8, "matches neither"),
    ("xor8", _truncated_xor8, "shorter than"),
], ids=["foreign-fuse-layout", "truncated-xor"])
def test_bad_payload_raises_on_every_probe(spark, kind, bad, match):
    """The driver-side reader refuses the bytes, and so do the broadcast
    probe and the join probe."""
    payload = bad()
    with pytest.raises(ValueError):
        filter_from_bytes(payload, kind).contain(_KEYS)
    keys = spark.createDataFrame([(int(k),) for k in _KEYS[:50]], "k long")
    probe = ShardedFilter(kind, 0, [payload]).contains_udf(spark)
    with pytest.raises(Exception, match=match):
        keys.select(probe("k")).collect()
    table = spark.createDataFrame(
        [(0, kind, 1, 0, 0, 0, len(payload), 0.0, payload)],
        FILTER_TABLE_SCHEMA)
    with pytest.raises(Exception, match=match):
        probe_via_join(keys, "k", table).collect()


def _final_plan(df) -> str:
    # the adaptive plan prints its final plan above the initial one
    return df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]


def test_probe_via_join_plans_a_jvm_cogroup(spark):
    """The join probe is one CoGroup over two shuffles, with no Python
    node: no key crosses into a Python worker."""
    keys = spark.createDataFrame([(int(k),) for k in _KEYS], "k long")
    payloads = [build_filter(_KEYS, "fuse8").to_bytes()]
    table = spark.createDataFrame(
        [(0, "fuse8", 1, 0, 0, 0, len(p), 0.0, p)
         for p in payloads], FILTER_TABLE_SCHEMA)
    out = probe_via_join(keys, "k", table, num_shards=1)
    assert out.where(~F.col("member")).count() == 0
    out.collect()
    plan = _final_plan(out)
    assert "CoGroup" in plan, plan
    assert plan.count("Exchange") == 2, plan
    for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython", "Python"):
        assert node not in plan, (node, plan)
