"""Regression tests for the round-1 judge verdict items (VERDICT.md)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_bloom_distributed_probe(spark, sf_dir):
    """VERDICT 'What's wrong' #1: the Bloom probe must run as a
    broadcast + pandas-UDF where(), not a driver-side collect loop.
    Zero false negatives through the UDF path; fpp bounded on
    non-members."""
    from fastfilter_spark.operators.sketch_agg import (
        bloom_contains_udf, bloom_sketch)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bf = bloom_sketch(orders, "o_orderkey", fpp=0.01)
    keys = orders.select("o_orderkey").distinct()
    contains = bloom_contains_udf(bf, spark)
    assert keys.where(contains(F.col("o_orderkey"))).count() == keys.count()

    # non-member fpp through the same UDF path (disjoint key range)
    probes = spark.range(1 << 40, (1 << 40) + 50_000) \
        .select(F.col("id").alias("o_orderkey"))
    fp = probes.where(contains(F.col("o_orderkey"))).count()
    assert fp / 50_000 <= 0.01 * 2.0  # 2x slack on the target fpp

    # driver-side and distributed probes agree bit-for-bit
    sample = np.array([r[0] for r in keys.limit(200).collect()],
                      dtype=np.int64)
    assert bf.contains(sample).all()


def test_build_sharded_table_never_collects(spark, sf_dir):
    """VERDICT 'What's wrong' #4: the join-probe path must not
    materialize payloads on the driver.  build_sharded_table with
    explicit shard_bits performs ZERO driver actions (asserted by
    poisoning DataFrame.collect during the call), and probe_via_join
    over the resulting table has zero false negatives."""
    from pyspark.sql import DataFrame, functions as F

    from fastfilter_spark.operators.dist import (
        build_sharded_table, probe_via_join)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    from tests.conftest import poison_collect
    with poison_collect("driver collect during build_sharded_table"):
        table = build_sharded_table(li, "l_orderkey", kind="fuse8",
                                    shard_bits=6)

    keys = li.select("l_orderkey").distinct()
    probed = probe_via_join(keys, "l_orderkey", table)
    assert probed.where(~F.col("member")).count() == 0
    assert probed.count() == keys.count()


def test_embedding_near_dup_multi_table_recall(spark):
    """VERDICT 'What's wrong' #2: the docstring's recall remedy now
    exists — n_tables unions independent plane sets.  Planted
    cosine-0.95 pairs vs brute-force ground truth: multi-table recall
    >= 0.9 and strictly above single-table recall.  Deterministic
    (fixed data seed + plane_seed)."""
    from fastfilter_spark.operators.dedup import embedding_near_dup

    rng = np.random.default_rng(123)
    dim, n_base, n_planted, c = 32, 400, 40, 0.95
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    planted = []
    for i in range(n_planted):
        v = base[i]
        w = rng.standard_normal(dim)
        w -= (w @ v) * v
        w /= np.linalg.norm(w)
        planted.append(c * v + np.sqrt(1 - c * c) * w)
    vecs = np.vstack([base, np.array(planted)])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")

    V = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = V @ V.T
    ia, ib = np.triu_indices(len(V), 1)
    m = sims[ia, ib] >= 0.95 - 1e-6
    truth = {(int(a), int(b)) for a, b in zip(ia[m], ib[m])}
    assert len(truth) >= n_planted

    def recall(n_tables: int) -> float:
        found = {(r["id_a"], r["id_b"]) for r in embedding_near_dup(
            df, threshold=0.94, n_planes=12, n_tables=n_tables).collect()}
        return len(found & truth) / len(truth)

    r1, r12 = recall(1), recall(12)
    assert r12 >= 0.9, (r1, r12)
    assert r12 > r1, (r1, r12)


@pytest.mark.parametrize("bits", [8, 16])
def test_fuse_arity4_build(bits):
    """VERDICT missing #2: arity-4 fuse build reachable via
    FuseFilter.build(..., arity=4) — zero false negatives, fpp within
    the 2^-bits bound, bits/entry tracking the reference's arity-4 size
    factor (binaryfusefilter.h:196-198/214-216) and beating arity 3,
    byte + packed round-trips intact."""
    from fastfilter_spark.operators.local import FuseFilter, fuse_size_factor

    n = 50_000
    keys = (np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    f4 = FuseFilter.build(keys, bits, arity=4)
    assert f4.arity == 4
    assert f4.contain(keys).all()

    # enough probes to expect 512 false positives at the 2^-bits rate:
    # a correct filter then exceeds the 1.35x bound with probability
    # below exp(-0.35^2 * 512 / 2.35) ~ 3e-12 (Chernoff), where 200,000
    # probes at 16 bits expected 3 hits and allowed at most 4
    n_probes = max(200_000, 512 << bits)
    rng = np.random.default_rng(3)
    hits = 0
    for lo in range(0, n_probes, 1 << 22):
        probes = rng.integers(1 << 40, 1 << 62, min(1 << 22, n_probes - lo),
                              dtype=np.uint64)
        hits += int(f4.contain(probes).sum())
    assert hits / n_probes <= (2.0 ** -bits) * 1.35

    bpe = f4.fingerprints.nbytes * 8 / n
    predicted = fuse_size_factor(4, n) * bits
    assert abs(bpe - predicted) / predicted < 0.05
    f3 = FuseFilter.build(keys, bits, arity=3)
    assert bpe < f3.fingerprints.nbytes * 8 / n  # denser than 3-wise

    rt = FuseFilter.from_bytes(f4.to_bytes(), bits, arity=4)
    assert rt.arity == 4 and rt.contain(keys).all()
    up = FuseFilter.unpack(f4.pack(), bits, arity=4)
    assert up.contain(keys).all() and \
        (up.fingerprints == f4.fingerprints).all()

    # duplicate keys build successfully (allocation is by raw count, as
    # in the reference; dedup happens inside the attempt loop) with zero
    # false negatives
    dup = np.concatenate([keys, keys[:5000]])
    fd = FuseFilter.build(dup, bits, arity=4)
    assert fd.contain(keys).all()


def test_zero_copy_view_deserialization(tmp_path):
    """VERDICT missing #3: caller-owned/mmap-style deserialization.
    view=True keeps a zero-copy read-only view over the caller's buffer
    (here an mmap'd file) and probes bit-identically to the copying
    path."""
    import mmap

    from fastfilter_spark.operators.local import (
        build_filter, filter_from_bytes)

    keys = np.arange(100_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    probes = np.random.default_rng(11).integers(0, 1 << 63, 50_000,
                                                dtype=np.uint64)
    for kind in ("xor8", "xor16", "fuse8", "fuse16", "fuse32"):
        f = build_filter(keys, kind)
        path = tmp_path / f"{kind}.filter"
        path.write_bytes(f.to_bytes())
        with open(path, "rb") as fh:
            mm = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
            v = filter_from_bytes(mm, kind, view=True)
            # genuinely zero-copy: the fingerprint array's memory IS the
            # mmap (on little-endian hosts)
            import sys as _sys
            if _sys.byteorder == "little":
                assert v.fingerprints.base is not None
                assert not v.fingerprints.flags.owndata
            assert v.contain(keys).all()
            c = filter_from_bytes(bytes(path.read_bytes()), kind)
            assert (v.contain(probes) == c.contain(probes)).all()
            del v  # release the exported buffer before closing the map
            mm.close()


def test_build_sharded_table_matches_materialized(spark, sf_dir):
    """Same bytes whether or not the driver materializes."""
    from fastfilter_spark.operators.dist import (
        ShardedFilter, build_sharded, build_sharded_table)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sf, _ = build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2)
    table = build_sharded_table(li, "l_orderkey", kind="fuse8",
                                shard_bits=2)
    sf2 = ShardedFilter.from_filter_table(
        [r.asDict() for r in table.collect()])
    assert sf.payloads == sf2.payloads
