"""The JVM sketch folds (native/SketchFold.java): HLL, count-min, Bloom
and ThetaKMV partials fold to the bytes of functions/sketches.py, the
KMV bottom-k keeps the rows numpy keeps, a KLL keeps its exact count
and merges with a Python-built KLL, and the plans of the hot sketch
entry points hold no Python node."""

import contextlib
import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.functions.sketches import (
    KLL, Bloom, CountMin, HyperLogLog, MisraGries, ThetaKMV,
)
from fastfilter_spark.operators import kmv, sketch_agg
from tests.conftest import one_fold_task_per_partition

_I64 = np.iinfo(np.int64)
_PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
             "BatchEvalPython", "FlatMapGroupsInPandas")


def _fixtures() -> dict:
    """FIXTURES.md key sets (contiguous, with duplicates, random, even)
    plus nulls, repeats, the int64 extremes, an empty and an all-null
    input; None is a null key."""
    rnd = K.to_int64(K.splitmix64_stream(42, 5000)).tolist()
    extremes = [int(_I64.min), int(_I64.max), int(_I64.min) + 1, -1, 0]
    return {
        "contiguous": list(range(1000)),
        "with_dups": [s if s < 990 else 999 - s for s in range(1000)],
        "random": rnd + rnd[:700] + extremes + [None] * 30,
        "even": [2 * s for s in range(3000)] + [None],
        "extremes": extremes * 3,
        "empty": [],
        "all_null": [None] * 40,
    }


FIXTURES = _fixtures()


def _df(spark, keys: list, parts: int = 3):
    return spark.createDataFrame([(k,) for k in keys], "k long") \
        .repartition(parts)


def _driver_fold(factory, keys: list):
    sk = factory()
    vals = np.array([k for k in keys if k is not None], dtype=np.int64)
    return sk.update(vals) if vals.size else sk


def _hll_keys(p: int, nnz: int) -> list:
    """Keys that fill exactly ``nnz`` of HyperLogLog(p)'s registers."""
    cand = K.to_int64(K.splitmix64_stream(7, 64 << p))
    idx = K.mix_split(K.to_uint64(cand), 0) >> np.uint64(64 - p)
    _, first = np.unique(idx, return_index=True)
    return cand[np.sort(first)[:nnz]].tolist()


FACTORIES = {
    "hll12": lambda: HyperLogLog(12),
    "hll4": lambda: HyperLogLog(4),
    "cms": lambda: CountMin(512, 4),
    "bloom": lambda: Bloom.from_capacity(4000, 0.01),
    "theta": lambda: ThetaKMV(256),
}


@pytest.mark.parametrize("case", sorted(FIXTURES))
@pytest.mark.parametrize("fanout", [64, 1])
def test_jvm_folds_equal_sketches_py(spark, case, fanout):
    """Several partials per input (merged by the driver, or first by the
    JVM tree-merge level at ``tree_fanout=1``) give the driver fold's
    bytes."""
    keys = FIXTURES[case]
    with one_fold_task_per_partition(spark):
        got = sketch_agg.multi_sketch_column(_df(spark, keys), "k", FACTORIES,
                                             tree_fanout=fanout)
    for name, factory in FACTORIES.items():
        exp = _driver_fold(factory, keys)
        if name not in got:             # no non-null row: no partial
            assert not any(k is not None for k in keys), (case, name)
            continue
        assert got[name].to_bytes() == exp.to_bytes(), (case, name)


@pytest.mark.parametrize("p", [12, 4])
def test_hll_bytes_at_the_sparse_dense_cutover(spark, p):
    """nnz*5 + 4 < m is the last sparse HLS1 blob; one register more is
    dense HLL1 — on both sides of the wire."""
    m = 1 << p
    last_sparse = (m - 5) // 5
    for nnz, magic in ((last_sparse, b"HLS1"), (last_sparse + 1, b"HLL1")):
        keys = _hll_keys(p, nnz)
        with one_fold_task_per_partition(spark):
            df = _df(spark, keys + keys[:nnz // 2], 2)
            got = sketch_agg.sketch_column(df, "k", lambda: HyperLogLog(p))
            blobs = [bytes(r.sketch) for r in sketch_agg._fold(
                df, "k", {"s": lambda: HyperLogLog(p)}, False)[0].collect()]
        exp = _driver_fold(lambda: HyperLogLog(p), keys)
        assert int(np.count_nonzero(exp.registers)) == nnz
        assert exp.to_bytes()[:4] == magic
        assert got.to_bytes() == exp.to_bytes()
        # each partial is itself a sketches.py blob of its own fill
        for b in blobs:
            part = HyperLogLog.from_bytes(b)
            assert part.to_bytes() == b


@pytest.mark.parametrize("case", ["random", "even", "extremes", "empty",
                                  "all_null"])
def test_bottomk_rows_default_and_xxhash64(spark, case):
    keys = FIXTURES[case]
    strs = [None if k is None else f"u{k}" for k in keys]
    df = spark.createDataFrame(list(zip(keys, strs)), "k long, u string") \
        .repartition(3)
    nonnull = [k for k in keys if k is not None]
    h60 = sorted({int(hashlib.md5(f"u{k}".encode()).hexdigest()[:15], 16)
                  for k in nonnull})
    with one_fold_task_per_partition(spark):
        got = [r.h for r in kmv.bottomk_hashes(df, "u", 64).collect()]
        assert got == h60[:64]
        xx = kmv.bottomk_hashes(df, "k", 64, hash_expr=F.xxhash64("k"))
        got = [r.h for r in xx.collect()]
    # signed order, as np.unique over the int64 hashes; Spark's
    # xxhash64(NULL) is its seed, 42, so a null key hashes to 42
    hashed = K.xxhash64_long(np.array(nonnull, dtype=np.int64)) \
        .view(np.int64).tolist() + [42] * (len(nonnull) < len(keys))
    assert got == np.unique(np.array(hashed, dtype=np.int64))[:64].tolist()


def test_jvm_kll_round_trips_and_merges_with_python_kll(spark):
    rng = np.random.default_rng(3)
    vals = rng.normal(size=25_000)
    rows = [(float(v),) for v in vals] + [(None,)] * 17
    df = spark.createDataFrame(rows, "x double").repartition(3)
    with one_fold_task_per_partition(spark):
        blobs = [bytes(r.sketch) for r in sketch_agg._fold(
            df, "x", {"q": lambda: KLL(200)}, True)[0].collect()]
        jvm = sketch_agg.sketch_column(df, "x", lambda: KLL(200),
                                       as_float=True)
    assert len(blobs) == 3
    for b in blobs:
        assert KLL.from_bytes(b).to_bytes() == b
    assert jvm.n == vals.size
    assert KLL.from_bytes(jvm.to_bytes()).to_bytes() == jvm.to_bytes()
    py = KLL(200).update(rng.normal(size=5_000))
    both = jvm.merge(py)
    assert both.n == vals.size + 5_000
    svals = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        rank = np.searchsorted(svals, jvm.quantile(q)) / svals.size
        assert abs(rank - q) < 0.03
        assert abs(both.rank(both.quantile(q)) - q) < 0.03


def test_kll_over_longs_counts_every_nonnull_row(spark):
    keys = FIXTURES["random"]
    got = sketch_agg.multi_sketch_column(
        _df(spark, keys), "k", {"hll": lambda: HyperLogLog(12),
                                "kll": lambda: KLL(200)})
    assert got["kll"].n == sum(k is not None for k in keys)


def test_python_fold_still_serves_other_sketches(spark):
    """A mix with a sketch SketchFold does not fold keeps the Python
    fold for every name."""
    keys = FIXTURES["with_dups"]
    with one_fold_task_per_partition(spark):
        partials, jvm = sketch_agg._fold(
            _df(spark, keys), "k", {"hll": lambda: HyperLogLog(12),
                                    "mg": lambda: MisraGries(8)}, False)
        plan = partials._jdf.queryExecution().executedPlan().toString()
        got = sketch_agg.multi_sketch_column(
            _df(spark, keys), "k", {"hll": lambda: HyperLogLog(12),
                                    "mg": lambda: MisraGries(8)},
            tree_fanout=1)
    assert not jvm and "MapInPandas" in plan
    assert got["hll"].to_bytes() == \
        _driver_fold(lambda: HyperLogLog(12), keys).to_bytes()
    assert got["mg"].n == len(keys)


@contextlib.contextmanager
def _collected_plans(record: list):
    """Record the executed plan of every DataFrame collected."""
    from tests.conftest import _concrete_dataframe_cls
    cls = _concrete_dataframe_cls()
    orig = cls.collect

    def spying(self):
        record.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self)

    cls.collect = spying
    try:
        yield
    finally:
        cls.collect = orig


def test_hot_sketch_plans_hold_no_python_node(spark):
    rows = [(k, f"u{k % 700}", float(k % 97)) for k in range(3000)]
    df = spark.createDataFrame(rows, "k long, u string, x double")
    plans = []
    with _collected_plans(plans):
        sketch_agg.hll_count_distinct(df, "u")
        sketch_agg.cms_sketch(df, "u")
        sketch_agg.kll_quantiles(df, "x", [0.5])
        sketch_agg.bloom_sketch(df, "u")
        sketch_agg.theta_sketch(df, "k")
        sketch_agg.multi_sketch_column(df, "k", {
            "hll": lambda: HyperLogLog(12), "kll": lambda: KLL(200)},
            tree_fanout=1)
    plans.append(kmv.kmv_distinct(df, "u", k=64)._jdf.queryExecution()
                 .executedPlan().toString())
    assert len(plans) == 8
    for plan in plans:
        assert not any(n in plan for n in _PY_NODES), plan
    assert sum("MapPartitions" in plan for plan in plans) == 7
