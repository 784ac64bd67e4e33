"""Null keys through every sharded build and probe surface.

A null in a shard's Arrow int64 key column turns it into float64 on the
Python side, which rounds every key above 2^53.  Builds drop null (and
uncastable) keys JVM-side, and every probe surface answers False for a
null key: a null is never a member.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.operators.dist import (
    FILTER_TABLE_SCHEMA, ShardedFilter, build_sharded,
    build_sharded_from_bucketed, build_sharded_table, probe_via_join,
    semi_join_prune, shard_of_hash, write_bucketed_keys,
)
from fastfilter_spark.operators.local import build_filter, empty_filter
from fastfilter_spark.streaming.incremental import IncrementalFilterMaintainer
from fastfilter_spark.streaming.probe import StreamingFilterProbe

_KEY = StructType([StructField("k", LongType())])
_ID_KEY = StructType([StructField("id", LongType(), False),
                      StructField("k", LongType())])
INT64 = st.integers(-2**63, 2**63 - 1)


@pytest.fixture(scope="module")
def big_keys():
    """2,000 distinct keys, nearly all of magnitude above 2^53."""
    rng = np.random.default_rng(7)
    keys = np.unique(rng.integers(-2**63, 2**63 - 1, 2200, dtype=np.int64))
    return keys[:2000]


def _frames(spark, keys):
    rows = [(int(k),) for k in keys]
    clean = spark.createDataFrame(rows, _KEY).repartition(3)
    nulls = spark.createDataFrame(
        rows + [(None,)] * 5, _KEY).repartition(3)
    return clean, nulls


def _payloads(table_df, num_shards, kind="fuse8"):
    rows = [r.asDict() for r in table_df.collect()]
    present = {r["shard"] for r in rows}
    empty = empty_filter(kind).to_bytes()
    rows += [{"shard": s, "kind": kind, "num_shards": num_shards,
              "payload": empty} for s in range(num_shards)
             if s not in present]
    return ShardedFilter.from_filter_table(rows).payloads


def test_sharded_builds_drop_null_keys(spark, big_keys, tmp_path):
    clean, nulls = _frames(spark, big_keys)
    want, _ = build_sharded(clean, "k", kind="fuse8", shard_bits=1)

    sf, _ = build_sharded(nulls, "k", kind="fuse8", shard_bits=1)
    assert sf.contain_np(big_keys).all()
    assert sf.payloads == want.payloads

    table = build_sharded_table(nulls, "k", kind="fuse8", shard_bits=1)
    assert _payloads(table, 2) == want.payloads
    assert sum(r["input_rows"] for r in table.collect()) == big_keys.size

    maint = IncrementalFilterMaintainer(str(tmp_path / "inc"), key_col="k",
                                        kind="fuse8", shard_bits=1)
    maint.process_batch(nulls, 0)
    got = maint.current_filter(spark)
    assert got.contain_np(big_keys).all()
    assert got.payloads == want.payloads
    assert spark.read.parquet(maint.keys_dir) \
        .where(F.col("key").isNull()).count() == 0

    name = "null_keys_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        write_bucketed_keys(nulls, "k", 1, name)
        assert spark.table(name).where(F.col("key").isNull()).count() == 0
        bucketed = build_sharded_from_bucketed(spark, name, kind="fuse8")
        assert _payloads(bucketed, 2) == want.payloads
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_uncastable_keys_are_dropped(spark):
    """Without ANSI mode a malformed string key casts to null and is
    dropped like one (with ANSI mode the cast raises, as Spark's does)."""
    from tests.conftest import sql_conf
    df = spark.createDataFrame([("12",), ("x",), (None,), ("-3",)], "k string")
    with sql_conf(spark, "spark.sql.ansi.enabled", "false"):
        sf, table = build_sharded(df, "k", kind="fuse8", shard_bits=1)
        assert sum(r["input_rows"] for r in table.collect()) == 2
    assert sf.contain_np(np.array([12, -3], dtype=np.int64)).all()


def _sharded(members: list, shard_bits: int, kind: str,
             arity: int = 3) -> ShardedFilter:
    """Driver-side ShardedFilter, routed like the Spark build; a shard
    with no members holds the empty filter."""
    keys = np.unique(K.to_uint64(np.array(members, dtype=np.int64)))
    shards = shard_of_hash(keys, shard_bits)
    payloads = [(build_filter(keys[shards == s], kind, arity=arity)
                 if (shards == s).any() else empty_filter(kind)).to_bytes()
                for s in range(1 << shard_bits)]
    return ShardedFilter(kind=kind, shard_bits=shard_bits, payloads=payloads)


class _Serving:
    """Maintainer stand-in for StreamingFilterProbe: a log that has
    advanced once, serving one fixed ShardedFilter."""

    def __init__(self, sf: ShardedFilter):
        self.sf = sf

    def _next_seq(self, spark):
        return 2

    def current_filter(self, spark):
        return self.sf


# every xor/fuse kind, and the 4-wise fuse extension
_KINDS = [("fuse8", 3), ("fuse16", 3), ("fuse32", 3), ("fuse8", 4),
          ("xor8", 3), ("xor16", 3)]


@given(members=st.lists(st.one_of(INT64, st.sampled_from(
           [-2**63, 2**63 - 1, -1, 0, 2**53 + 1])), max_size=300),
       others=st.lists(st.one_of(st.none(), INT64), max_size=60),
       shard_bits=st.integers(0, 3))
@settings(deadline=None, max_examples=3,
          suppress_health_check=[HealthCheck.too_slow])
def test_probe_surfaces_agree(spark, tmp_path_factory, members, others,
                              shard_bits):
    """One ShardedFilter of each kind through all five probe surfaces
    gives the same membership bit for every row: members (duplicated)
    probe True, null keys False, and every other key its driver-side
    contain_np bit.  Shards without members hold the empty filter
    (shard_bits 3 leaves some empty)."""
    probe_keys = members + members[:5] + others + [None]
    rows = [(i, k) for i, k in enumerate(probe_keys)]
    df = spark.createDataFrame(rows, _ID_KEY).repartition(2)
    # dim = the probe keys themselves, so the exact join keeps every
    # non-null key and the result is the filter's own bit
    dim = spark.createDataFrame(rows, _ID_KEY)
    df.createOrReplaceTempView("probe_surfaces_t")
    present = [k for k in probe_keys if k is not None]

    def bits_of(kept_ids):
        kept = set(kept_ids)
        return [i in kept for i in range(len(probe_keys))]

    for kind, arity in _KINDS:
        sf = _sharded(members, shard_bits, kind, arity)
        bit = dict(zip(present,
                       sf.contain_np(np.array(present, dtype=np.int64))))
        want = [k is not None and bool(bit[k]) for k in probe_keys]
        assert all(want[i] for i, k in enumerate(probe_keys)
                   if k in members)

        table = spark.createDataFrame(
            [(s, kind, sf.num_shards, 0, 0, 0, len(p), 0.0, p)
             for s, p in enumerate(sf.payloads)], FILTER_TABLE_SCHEMA)
        joined = {r["key"]: r["member"] for r in
                  probe_via_join(df, "k", table).collect()}
        assert [joined.get(k, False) for k in probe_keys] == want, \
            (kind, arity)

        case = (kind, arity)
        probe = sf.contains_udf(spark)
        got = {r["id"]: r["m"] for r in df.select(
            "id", probe("k").alias("m")).collect()}
        assert [got[i] for i in range(len(probe_keys))] == want, case

        # the streaming sink, served this one filter: drop_members
        # keeps exactly the False rows (null keys included),
        # keep_members the True
        for mode, kept_want in (("drop_members", [not w for w in want]),
                                ("keep_members", want)):
            out = str(tmp_path_factory.mktemp(mode))
            StreamingFilterProbe(_Serving(sf), "k", out, mode=mode) \
                .process_batch(df, 0)
            assert bits_of(r["id"] for r in spark.read.parquet(
                out).collect()) == kept_want, case + (mode,)

        name = sf.register_sql_udf(spark, "ff_contains_prop")
        got = {r["id"]: r["m"] for r in spark.sql(
            f"SELECT id, {name}(k) AS m FROM probe_surfaces_t").collect()}
        assert [got[i] for i in range(len(probe_keys))] == want, case

        assert bits_of(r["id"] for r in semi_join_prune(
            df, "k", sf, dim, "k").collect()) == want, case
