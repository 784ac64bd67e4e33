"""The JVM shard build (native/FilterBuild.java) against the Python one.

``dist.build_filter_rows`` builds every shard inside Spark's JVM
(``groupBy(shard)`` + one compiled typed aggregate).  The Java builder
is ffkernel.c's
build route written again, so its bytes must be the native tier's exactly:
the pinned digests of tests/test_wire_digests.py hold for it too, and
its fuse/xor sizing must equal operators/local.py's, whose
``math.log`` Java's ``StrictMath.log`` stands in for.
"""

import array
import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.operators import dist
from fastfilter_spark.operators.local import (
    filter_from_bytes, fuse_layout, fuse_segment_length, xor_block_length,
)
from tests import test_wire_digests as W


@pytest.fixture(scope="module")
def jbuild(spark):
    return dist._jvm_factory(spark, "FilterBuild")


def _jvm_bytes(jbuild, keys: np.ndarray, kind: str, arity: int) -> bytes:
    return bytes(jbuild.toBytes(keys.astype("<u8").tobytes(), kind, arity))


def test_jvm_build_matches_native_wire_digests(jbuild):
    """Every pinned (kind, arity, input), duplicates and arrival order
    included, and the fuse8 build large enough for the native emit
    peel."""
    got = {f"{kind}/a{arity}/{name}": hashlib.sha256(
               _jvm_bytes(jbuild, keys, kind, arity)).hexdigest()
           for name, keys in W._inputs().items()
           for kind, arity in W.KINDS}
    assert got == W.NATIVE
    stream = K.splitmix64_stream(7, 1 << 20)
    keys = np.concatenate([stream, stream[:5000]])
    assert hashlib.sha256(_jvm_bytes(jbuild, keys, "fuse8", 3)) \
        .hexdigest() == W.NATIVE_EMIT


def _py_layout_digest(arity: int, lo: int, hi: int) -> bytes:
    out = array.array("i")
    for n in range(lo, hi):
        if arity == 0:
            out.append(xor_block_length(n))
        else:
            out.extend(fuse_layout(n, arity))
    return hashlib.sha256(out.tobytes()).digest()


def test_jvm_sizing_matches_python_for_every_size(jbuild):
    """xor block length and the 3- and 4-wise fuse layouts for every
    size 0..2^22, compared in chunks of 2^16, then around each step
    of the fuse segment length up to 2^31 (above 10^6 keys the size
    factor is a constant, so those steps are the only log-dependent
    values left)."""
    chunk = 1 << 16
    for arity in (0, 3, 4):
        bad = [lo for lo in range(0, (1 << 22) + 1, chunk)
               if bytes(jbuild.layoutDigest(arity, lo, lo + chunk))
               != _py_layout_digest(arity, lo, lo + chunk)]
        assert bad == [], (arity, bad)
    for arity in (3, 4):
        n = 1 << 22
        while n < 1 << 31:
            # the first size whose segment length exceeds n's
            lo, hi = n, 1 << 31
            seg = fuse_segment_length(arity, n)
            while hi - lo > 1:
                mid = (lo + hi) // 2
                lo, hi = (mid, hi) if fuse_segment_length(arity, mid) == seg \
                    else (lo, mid)
            if hi >= 1 << 31:
                break
            assert bytes(jbuild.layoutDigest(arity, hi - 2, hi + 2)) \
                == _py_layout_digest(arity, hi - 2, hi + 2), (arity, hi)
            n = hi


def test_jvm_build_plan_has_one_exchange_and_no_python(spark):
    """The build is one typed JVM aggregate, map-side partial then final
    around the one Exchange: no collect_list buffer and no Python node."""
    keys = spark.range(20_000).select(F.xxhash64("id").alias("key"))
    built = dist.build_filter_rows(dist.keys_with_shard(keys, "key", 2),
                                   "fuse8", 4)
    built.collect()
    # the adaptive plan prints its final plan above the initial one
    plan = built._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 1, plan
    assert plan.count("ObjectHashAggregate") == 2, plan
    assert "partial_filterbuild(key" in plan, plan
    assert plan.count("filterbuild(key") == 2, plan
    assert "collect_list" not in plan, plan
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython", "Python"):
        assert node not in plan, (node, plan)


def test_absent_shard_rows_probe_false(spark):
    """A filter table whose shards 1 and 3 have no row at all (no key
    routed there), not an empty filter: probe_via_join answers False for
    every key routed there, and the broadcast probe over complete_filter
    gives the same bits."""
    ids = np.arange(-6000, 6000, dtype=np.int64) * 2654435761
    routed = dist.shard_of_hash(K.to_uint64(ids), 2)
    members = ids[(routed % 2 == 0) & (np.arange(ids.size) % 3 == 0)]
    table = dist.build_sharded_table(
        spark.createDataFrame([(int(k),) for k in members], "k long"),
        "k", kind="fuse8", shard_bits=2)
    rows = table.collect()
    assert sorted(r["shard"] for r in rows) == [0, 2]
    probes = spark.createDataFrame([(int(k),) for k in ids], "k long")
    joined = {r["key"]: r["member"] for r in
              dist.probe_via_join(probes, "k", table).collect()}
    assert not any(joined[int(k)] for k in ids[routed % 2 == 1])
    assert all(joined[int(k)] for k in members)
    probe = dist.complete_filter(rows, "fuse8", 4).contains_udf(spark)
    broadcast = {r["k"]: r["m"]
                 for r in probes.select("k", probe("k").alias("m"))
                 .collect()}
    assert broadcast == joined


def test_jvm_build_rows_match_python_kernel(spark, jbuild):
    """Every kind's rows hold FilterBuild.toBytes over each shard's
    np.unique'd keys, and the lineage columns match (input_rows counts
    duplicates, distinct_keys does not, seed is the two's-complement
    long of the winning seed, size_bytes is the in-core size).  The
    expected bytes come from the JVM kernel, which the pinned native
    digests hold, so the test reads the same with or without a C
    compiler.  The keys span both signs and the int64 extremes, so the
    aggregate's radix unique meets every byte position."""
    edges = np.array([0, -1, 1, 2**63 - 1, -2**63, -2**63 + 1],
                     dtype=np.int64)
    raw = np.concatenate([np.arange(-1500, 1500, dtype=np.int64) * 7919,
                          np.arange(100, dtype=np.int64) * 7919,
                          edges, edges])
    df = spark.createDataFrame([(int(k),) for k in raw], "key long")
    routed = dist.shard_of_hash(K.to_uint64(raw), 1)
    for kind, arity in W.KINDS:
        rows = dist.build_filter_rows(dist.keys_with_shard(df, "key", 1),
                                      kind, 2, arity=arity).collect()
        assert sorted(r["shard"] for r in rows) == [0, 1]
        for r in rows:
            _check_row(jbuild, r, raw[routed == r["shard"]], kind, arity)


def test_jvm_build_rows_hold_pinned_native_bytes(spark):
    """One shard over the pinned ``contiguous`` input (unique and
    sorted, so the aggregate's unique leaves it as is) builds the
    native tier's pinned bytes for every kind."""
    keys = W._inputs()["contiguous"].astype(np.int64)
    df = spark.createDataFrame([(int(k),) for k in keys], "key long")
    for kind, arity in W.KINDS:
        (row,) = dist.build_filter_rows(dist.keys_with_shard(df, "key", 0),
                                        kind, 1, arity=arity).collect()
        assert hashlib.sha256(bytes(row["payload"])).hexdigest() == \
            W.NATIVE[f"{kind}/a{arity}/contiguous"], (kind, arity)


def _check_row(jbuild, r, raw: np.ndarray, kind: str, arity: int) -> None:
    keys = np.unique(K.to_uint64(raw))
    payload = _jvm_bytes(jbuild, keys, kind, arity)
    f = filter_from_bytes(payload, kind)
    assert (r["kind"], r["num_shards"]) == (kind, 2)
    assert r["input_rows"] == raw.size
    assert r["distinct_keys"] == keys.size
    assert r["seed"] == np.uint64(f.seed).astype(np.int64).item()
    assert r["size_bytes"] == f.size_in_bytes()
    assert bytes(r["payload"]) == payload, (kind, arity)
