"""Sketch correctness: published error bounds + merge associativity.

Oracle is the algorithm's published bound (the reference C library has no
sketches; BASELINE.json:north_rule mandates them), plus exact answers
computed with numpy / Spark.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.functions.sketches import (
    Bloom, CountMin, HyperLogLog, KLL, TDigest, sketch_from_bytes,
)
from fastfilter_spark.operators.sketch_agg import (
    cms_sketch, hll_count_distinct, kll_quantiles, sketch_column,
    tdigest_quantiles,
)

RNG = np.random.default_rng(42)


# -- HyperLogLog -------------------------------------------------------------

def test_hll_estimate_within_bound():
    for n in (100, 10_000, 200_000):
        vals = RNG.integers(0, 1 << 62, size=n, dtype=np.int64)
        vals = np.unique(vals)
        hll = HyperLogLog(p=12).update(vals)
        err = abs(hll.estimate() - vals.size) / vals.size
        assert err < 5 * hll.relative_error, (n, err)


def test_hll_merge_assoc_and_bytes():
    vals = RNG.integers(0, 1 << 62, size=90_000, dtype=np.int64)
    chunks = np.array_split(vals, 7)
    whole = HyperLogLog(p=10).update(vals)
    parts = [HyperLogLog(p=10).update(c) for c in chunks]
    # left fold vs right fold vs shuffled order -> identical register bytes
    left = parts[0]
    for p in parts[1:]:
        left = left.merge(p)
    right = parts[-1]
    for p in reversed(parts[:-1]):
        right = p.merge(right)
    shuffled = parts[3].merge(parts[0]).merge(parts[6]).merge(parts[1]) \
        .merge(parts[5]).merge(parts[2]).merge(parts[4])
    assert left.to_bytes() == right.to_bytes() == shuffled.to_bytes() \
        == whole.to_bytes()
    rt = sketch_from_bytes(left.to_bytes())
    assert rt.estimate() == left.estimate()


# -- CountMin ----------------------------------------------------------------

def test_cms_bounds_and_merge():
    # zipf-ish frequencies over 1000 items
    items = np.repeat(np.arange(1000, dtype=np.int64),
                      (50000 / np.arange(1, 1001)).astype(np.int64))
    RNG.shuffle(items)
    cms = CountMin(width=2048, depth=5).update(items)
    true = np.bincount(items.astype(np.int64))
    q = cms.query(np.arange(1000, dtype=np.int64))
    assert np.all(q >= true[:1000])                      # never underestimates
    eps = np.e / 2048
    assert np.mean(q - true[:1000] <= eps * cms.total) > 0.99

    chunks = np.array_split(items, 5)
    parts = [CountMin(width=2048, depth=5).update(c) for c in chunks]
    m = parts[2].merge(parts[0]).merge(parts[4]).merge(parts[1]).merge(parts[3])
    assert m.to_bytes() == cms.to_bytes()
    assert sketch_from_bytes(m.to_bytes()).total == cms.total


# -- Bloom -------------------------------------------------------------------

def test_bloom_fnr_fpp_merge():
    members = RNG.integers(0, 1 << 62, size=20_000, dtype=np.int64)
    bf = Bloom.from_capacity(20_000, fpp=0.01).update(members)
    assert bf.contains(members).all()                    # no false negatives
    probes = RNG.integers(1 << 62, 1 << 63, size=100_000, dtype=np.int64)
    fpp = bf.contains(probes).mean()
    assert fpp < 0.02

    a, b = members[:10_000], members[10_000:]
    merged = Bloom.from_capacity(20_000, 0.01).update(a).merge(
        Bloom.from_capacity(20_000, 0.01).update(b))
    assert merged.to_bytes() == bf.to_bytes()


# -- KLL ---------------------------------------------------------------------

def test_kll_rank_error():
    vals = RNG.normal(0, 100, size=120_000)
    sk = KLL(k=200).update(vals)
    svals = np.sort(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = sk.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) < 0.025, (q, true_rank)
    assert sk.n == vals.size


def test_kll_merge_partition_orders():
    vals = RNG.exponential(10, size=80_000)
    chunks = np.array_split(vals, 8)
    svals = np.sort(vals)
    for order in ([0, 1, 2, 3, 4, 5, 6, 7], [7, 3, 5, 0, 6, 2, 4, 1]):
        acc = KLL(k=200).update(chunks[order[0]])
        for i in order[1:]:
            acc = acc.merge(KLL(k=200).update(chunks[i]))
        assert acc.n == vals.size
        for q in (0.1, 0.5, 0.9):
            est = acc.quantile(q)
            true_rank = np.searchsorted(svals, est) / svals.size
            assert abs(true_rank - q) < 0.03, (order, q)
    rt = sketch_from_bytes(acc.to_bytes())
    assert rt.quantile(0.5) == acc.quantile(0.5)


# -- t-digest ----------------------------------------------------------------

def test_tdigest_quantiles_and_merge():
    vals = RNG.lognormal(3, 1, size=60_000)
    td = TDigest(delta=100).update(vals)
    svals = np.sort(vals)
    for q in (0.001, 0.01, 0.5, 0.99, 0.999):
        est = td.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) < 0.02, (q, true_rank)

    chunks = np.array_split(vals, 6)
    acc = TDigest(delta=100).update(chunks[4])
    for i in (0, 5, 2, 1, 3):
        acc = acc.merge(TDigest(delta=100).update(chunks[i]))
    for q in (0.01, 0.5, 0.99):
        est = acc.quantile(q)
        true_rank = np.searchsorted(svals, est) / svals.size
        assert abs(true_rank - q) < 0.03
    rt = sketch_from_bytes(acc.to_bytes())
    assert rt.quantile(0.5) == acc.quantile(0.5)
    assert abs(rt.n - vals.size) < 1e-6


# -- Spark aggregation layer -------------------------------------------------

@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_spark_hll_vs_exact(spark, lineitem):
    exact = lineitem.select("l_orderkey").distinct().count()
    est = hll_count_distinct(lineitem, "l_orderkey", p=12)
    assert abs(est - exact) / exact < 0.05


def test_spark_hll_partition_order_invariance(spark, lineitem):
    from fastfilter_spark.functions.sketches import HyperLogLog
    from fastfilter_spark.operators.sketch_agg import _fold
    from tests.conftest import count_partials, one_fold_task_per_partition
    keyed = lineitem.select(F.col("l_orderkey").cast("long").alias("k"))
    # the fold sizing would run this tiny input as ONE task, which
    # merges nothing: keep one partial per partition so both plans
    # really merge (3 and 11 partials)
    with one_fold_task_per_partition(spark):
        ins = (keyed.repartition(3), keyed.repartition(11, "k"))
        a, b = (sketch_column(d, "k", lambda: HyperLogLog(11)) for d in ins)
        partials = [count_partials(_fold(
            d, "k", {"s": lambda: HyperLogLog(11)}, False)[0]) for d in ins]
    assert partials == [3, 11]
    assert a.to_bytes() == b.to_bytes()


def test_spark_kll_vs_exact(spark, lineitem):
    qs = [0.1, 0.5, 0.9]
    est = kll_quantiles(lineitem, "l_extendedprice", qs)
    exact = lineitem.approxQuantile("l_extendedprice", qs, 0.0)
    vals = np.sort(np.array(
        [r[0] for r in lineitem.select("l_extendedprice").collect()]))
    for q, e in zip(qs, est):
        rank = np.searchsorted(vals, e) / vals.size
        assert abs(rank - q) < 0.03


def test_spark_tdigest_vs_exact(spark, lineitem):
    est = tdigest_quantiles(lineitem, "l_extendedprice", [0.5])[0]
    vals = np.sort(np.array(
        [r[0] for r in lineitem.select("l_extendedprice").collect()]))
    rank = np.searchsorted(vals, est) / vals.size
    assert abs(rank - 0.5) < 0.03


def test_spark_cms_counts(spark, lineitem):
    cms = cms_sketch(lineitem, "l_suppkey", width=4096, depth=5)
    exact = {r["l_suppkey"]: r["cnt"] for r in
             lineitem.groupBy("l_suppkey").agg(F.count("*").alias("cnt")).collect()}
    keys = np.array(list(exact.keys()), dtype=np.int64)
    # CMS was fed xxhash64? no: l_suppkey is bigint -> fed raw longs
    est = cms.query(keys)
    true = np.array([exact[k] for k in keys])
    assert np.all(est >= true)
    assert np.mean(est - true <= (np.e / 4096) * cms.total) > 0.99


# -- ThetaKMV ----------------------------------------------------------------

def test_theta_estimate_and_bounds():
    from fastfilter_spark.functions.sketches import ThetaKMV
    for n in (1000, 50_000, 400_000):
        vals = (np.arange(n, dtype=np.int64) * 2654435761) ^ 77
        sk = ThetaKMV(k=4096).update(vals)
        err = abs(sk.estimate() - n) / n
        assert err < 5 / np.sqrt(4096 - 2), (n, err)
    rt = sketch_from_bytes(sk.to_bytes())
    assert rt.estimate() == sk.estimate()


def test_theta_merge_partition_orders():
    from fastfilter_spark.functions.sketches import ThetaKMV
    vals = RNG.integers(0, 1 << 62, 120_000, dtype=np.int64)
    chunks = np.array_split(vals, 6)
    ref = ThetaKMV(k=2048).update(vals)
    for order in ([0, 1, 2, 3, 4, 5], [5, 2, 0, 4, 1, 3]):
        acc = ThetaKMV(k=2048).update(chunks[order[0]])
        for i in order[1:]:
            acc = acc.merge(ThetaKMV(k=2048).update(chunks[i]))
        # the k min hashes are a set property -> byte-identical result
        assert acc.to_bytes() == ref.to_bytes(), order


def test_theta_intersection_estimate():
    from fastfilter_spark.functions.sketches import ThetaKMV
    a = np.arange(0, 100_000, dtype=np.int64)
    b = np.arange(50_000, 150_000, dtype=np.int64)
    sa = ThetaKMV(k=4096).update(a)
    sb = ThetaKMV(k=4096).update(b)
    est = sa.intersect_estimate(sb)
    assert abs(est - 50_000) / 50_000 < 0.10, est
    # disjoint sets: near-zero
    sc = ThetaKMV(k=4096).update(np.arange(10**6, 10**6 + 100_000,
                                           dtype=np.int64))
    assert sa.intersect_estimate(sc) / 100_000 < 0.01


def test_spark_theta_vs_exact(spark, lineitem):
    from fastfilter_spark.operators.sketch_agg import (
        theta_intersection, theta_sketch)
    exact = lineitem.select("l_orderkey").distinct().count()
    sk = theta_sketch(lineitem, "l_orderkey", k=4096)
    assert abs(sk.estimate() - exact) / exact < 0.08
    # intersection with orders' keys == lineitem's own distinct keys
    orders = spark.read.parquet(
        f"{spark.conf.get('spark.test.sfdir', '/root/testdata/sf0.001')}"
        "/orders.parquet")
    est = theta_intersection(lineitem, "l_orderkey", orders, "o_orderkey",
                             k=4096)
    assert abs(est - exact) / exact < 0.08


# -- MisraGries ---------------------------------------------------------------

def test_misra_gries_guarantees_stream():
    """estimate <= true <= estimate + error; error <= n/(k+1); every
    item with true count > n/(k+1) retained — on a zipf-ish stream."""
    from fastfilter_spark.functions.sketches import MisraGries
    rng = np.random.default_rng(11)
    # zipf over 1000 items, 50k draws
    vals = rng.zipf(1.3, size=50_000) % 1000
    sk = MisraGries(k=32).update(vals)
    true = {int(v): int(c) for v, c in
            zip(*np.unique(vals, return_counts=True))}
    assert sk.n == 50_000
    assert sk.error <= sk.n // (32 + 1)
    for item, est in sk.counters.items():
        t = true[item]
        assert est <= t <= est + sk.error, (item, est, t, sk.error)
    thresh = sk.n // (32 + 1)
    for item, t in true.items():
        if t > thresh:
            assert item in sk.counters, (item, t, thresh)


def test_misra_gries_merge_tree_invariant():
    """The guarantee must hold under ARBITRARY merge trees (partials in
    any partitioning) — the mergeable-summaries property sketch_column
    relies on."""
    from fastfilter_spark.functions.sketches import MisraGries
    rng = np.random.default_rng(5)
    vals = rng.zipf(1.5, size=30_000) % 200
    true = {int(v): int(c) for v, c in
            zip(*np.unique(vals, return_counts=True))}
    for n_parts, perm_seed in ((3, 0), (8, 1), (16, 2)):
        parts = np.array_split(
            vals[np.random.default_rng(perm_seed).permutation(len(vals))],
            n_parts)
        sks = [MisraGries(k=24).update(p) for p in parts]
        # unbalanced right-fold AND pairwise tree
        acc = sks[0]
        for s in sks[1:]:
            acc = acc.merge(s)
        assert acc.n == 30_000
        assert acc.error <= acc.n // 25
        thresh = acc.n // 25
        for item, t in true.items():
            if t > thresh:
                assert item in acc.counters
        for item, est in acc.counters.items():
            assert est <= true[item] <= est + acc.error


def test_misra_gries_serialization_roundtrip():
    from fastfilter_spark.functions.sketches import (
        MisraGries, sketch_from_bytes)
    sk = MisraGries(k=8).update(np.array([1, 1, 2, 3, -5, -5, -5]))
    rt = sketch_from_bytes(sk.to_bytes())
    assert isinstance(rt, MisraGries)
    assert rt.k == sk.k and rt.n == sk.n and rt.error == sk.error
    assert rt.counters == sk.counters
    assert rt.estimate(-5) == 3 and rt.estimate(99) == 0


def test_heavy_hitters_exact_vs_groupby(spark):
    """heavy_hitters (MG candidates + restricted exact count) must equal
    the full groupBy-HAVING result — string column, hashed candidates."""
    from fastfilter_spark.operators.sketch_agg import heavy_hitters
    from pyspark.sql import functions as F
    # 20 hot values (weight 500+), long uniform tail
    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 3 != 0,
               F.concat(F.lit("hot"), (F.col("id") % 20).cast("string")))
        .otherwise(F.concat(F.lit("cold"), F.col("id").cast("string")))
        .alias("tok"))
    got = heavy_hitters(df, "tok", k=64)
    thresh = [r["n_exact"] for r in got.collect()]
    exact = (df.groupBy("tok").agg(F.count("*").alias("n_exact"))
             .where(F.col("n_exact") >= 30_000 // 65 + 1))
    assert sorted((r["tok"], r["n_exact"]) for r in got.collect()) \
        == sorted((r["tok"], r["n_exact"]) for r in exact.collect())
    assert len(thresh) == 20


def test_heavy_hitters_rejects_sub_guarantee_threshold(spark):
    from fastfilter_spark.operators.sketch_agg import heavy_hitters
    from pyspark.sql import functions as F
    df = spark.range(0, 1000).select((F.col("id") % 7).alias("v"))
    with pytest.raises(ValueError, match="guarantee"):
        heavy_hitters(df, "v", min_count=2, k=4)


# -- Sparse HLL wire encoding ------------------------------------------------

def test_hll_sparse_wire_roundtrip_and_size():
    # a small-cardinality sketch ships sparse and MUCH smaller than dense
    vals = RNG.integers(0, 1 << 62, size=12, dtype=np.int64)
    hll = HyperLogLog(p=12).update(vals)
    blob = hll.to_bytes()
    assert blob[:4] == b"HLS1"
    assert len(blob) < 12 * 5 + 16 < hll.m  # ~70 B, not 4 KB
    rt = sketch_from_bytes(blob)
    assert np.array_equal(rt.registers, hll.registers)
    assert rt.estimate() == hll.estimate()
    # a saturated sketch stays dense
    big = HyperLogLog(p=8).update(
        RNG.integers(0, 1 << 62, size=50_000, dtype=np.int64))
    dense = big.to_bytes()
    assert dense[:4] == b"HLL1"
    assert np.array_equal(sketch_from_bytes(dense).registers, big.registers)


def test_hll_sparse_dense_merge_equivalence():
    # merging across mixed wire encodings is identical to dense-only
    small = HyperLogLog(p=10).update(
        RNG.integers(0, 1 << 62, size=20, dtype=np.int64))
    large = HyperLogLog(p=10).update(
        RNG.integers(0, 1 << 62, size=80_000, dtype=np.int64))
    assert small.to_bytes()[:4] == b"HLS1"
    assert large.to_bytes()[:4] == b"HLL1"
    via_wire = sketch_from_bytes(small.to_bytes()).merge(
        sketch_from_bytes(large.to_bytes()))
    direct = small.merge(large)
    assert np.array_equal(via_wire.registers, direct.registers)
    # cutover boundary: encode/decode is lossless right at the switch
    for n in (200, 205, 210):
        h = HyperLogLog(p=10).update(
            RNG.integers(0, 1 << 62, size=n, dtype=np.int64))
        assert np.array_equal(
            sketch_from_bytes(h.to_bytes()).registers, h.registers)
