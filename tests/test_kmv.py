"""KMV bottom-k sketch: exact python replay, merge/partitioning
invariance, estimator accuracy, and edge cases."""

import hashlib

import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.kmv import (
    HMAX60,
    bottomk_hashes,
    kmv_distinct,
    kmv_jaccard,
)


def _h60(s: str) -> int:
    """Pure-python replay of portable_hash60."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _keys(prefix, n):
    return [f"{prefix}{i}" for i in range(n)]


def _df(spark, keys, parts=None):
    df = spark.createDataFrame([(s,) for s in keys], "key string")
    return df.repartition(parts) if parts else df


def test_bottomk_matches_python_replay(spark):
    keys = _keys("doc-", 500) + _keys("doc-", 100)  # dups must not count
    exp = sorted({_h60(s) for s in keys})[:32]
    got = [r.h for r in bottomk_hashes(_df(spark, keys), "key", 32)
           .orderBy("h").collect()]
    assert got == exp


def test_bottomk_partitioning_invariance(spark):
    from fastfilter_spark.operators.kmv import _bottomk_partials
    from tests.conftest import count_partials, one_fold_task_per_partition
    keys = _keys("u", 800)
    # keep one bottom-k partial per partition, so the 13-way run merges
    # 13 partials instead of the fold sizing's one
    with one_fold_task_per_partition(spark):
        a = [r.h for r in
             bottomk_hashes(_df(spark, keys, 1), "key", 64).collect()]
        b = [r.h for r in
             bottomk_hashes(_df(spark, keys, 13), "key", 64).collect()]
        partials = [count_partials(_bottomk_partials(
            _df(spark, keys, n), "key", 64)[0]) for n in (1, 13)]
    assert partials == [1, 13]
    assert sorted(a) == sorted(b) == sorted({_h60(s) for s in keys})[:64]


def test_bottomk_merge_is_bottomk_of_sketch_union(spark):
    """The mergeability property: B_k(A ∪ B) == B_k(B_k(A) ∪ B_k(B))."""
    a_keys, b_keys = _keys("a", 300), _keys("b", 300)
    k = 48
    direct = sorted({_h60(s) for s in a_keys + b_keys})[:k]
    ba = {_h60(s) for s in a_keys}
    bb = {_h60(s) for s in b_keys}
    via_sketches = sorted(sorted(ba)[:k] + sorted(bb)[:k])
    via_sketches = sorted(set(via_sketches))[:k]
    assert direct == via_sketches  # algebra sanity
    got = [r.h for r in
           bottomk_hashes(_df(spark, a_keys + b_keys), "key", k)
           .orderBy("h").collect()]
    assert got == direct


def test_kmv_distinct_exact_below_k(spark):
    keys = _keys("x", 100) * 3
    row = kmv_distinct(_df(spark, keys), "key", k=256).first()
    assert row.n_min == 100
    assert row.distinct_est == 100
    assert row.kth_hash == max(sorted({_h60(s) for s in keys})[:256])


def test_kmv_distinct_estimator_formula_and_accuracy(spark):
    keys = _keys("page/", 20_000)
    k = 512
    row = kmv_distinct(_df(spark, keys, 7), "key", k=k).first()
    kth = sorted({_h60(s) for s in keys})[k - 1]
    assert row.kth_hash == kth
    assert row.distinct_est == (k - 1) * HMAX60 // kth
    # Beyer et al.: relative error ~ 1/sqrt(k-2); allow 5 sigma
    assert abs(row.distinct_est - 20_000) / 20_000 < 5 / (k - 2) ** 0.5


def test_kmv_distinct_null_and_empty(spark):
    df = spark.createDataFrame([(None,), ("a",)], "key string")
    row = kmv_distinct(df, "key", k=16).first()
    assert (row.n_min, row.distinct_est) == (1, 1)
    empty = spark.createDataFrame([], "key string")
    row = kmv_distinct(empty, "key", k=16).first()
    assert (row.n_min, row.distinct_est) == (0, 0)


def test_kmv_jaccard_matches_python_replay(spark):
    shared = _keys("s", 400)
    a_keys = shared + _keys("onlya", 200)
    b_keys = shared + _keys("onlyb", 600)
    k = 128
    ba = sorted({_h60(s) for s in a_keys})[:k]
    bb = sorted({_h60(s) for s in b_keys})[:k]
    bu = sorted(set(ba) | set(bb))[:k]
    matches = len([h for h in bu if h in set(ba) and h in set(bb)])
    row = kmv_jaccard(_df(spark, a_keys, 5), _df(spark, b_keys, 3),
                      "key", k=k).first()
    assert (row.union_k, row.matches) == (len(bu), matches)
    assert row.jaccard_e6 == matches * 1_000_000 // len(bu)
    # true J = 400 / 1200; standard error sqrt(J(1-J)/k) ~ 0.042
    assert abs(row.jaccard_e6 / 1e6 - 400 / 1200) < 5 * 0.042


def test_kmv_jaccard_empty_inputs(spark):
    empty = spark.createDataFrame([], "key string")
    row = kmv_jaccard(empty, empty, "key", k=8).first()
    assert (row.union_k, row.matches, row.jaccard_e6) == (0, 0, 0)


def test_bottomk_validates_k(spark):
    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError, match="k must be positive"):
        bottomk_hashes(df, "key", 0)


def test_bottomk_plan_has_no_wide_exchange_of_keys(spark):
    """The fold must reduce per partition BEFORE any exchange: the only
    shuffle inputs are the <= k*parts survivors (the JVM fold's
    MapPartitions comes below the exchange in the plan; this unsized
    input's partials merge in a second MapPartitions above it)."""
    df = _df(spark, _keys("k", 100), 4)
    plan = bottomk_hashes(df, "key", 8)._jdf.queryExecution() \
        .executedPlan().toString()
    i_map = plan.rfind("MapPartitions")
    i_ex = plan.find("Exchange")
    assert i_map != -1
    # tree prints root-first: the exchange must be ABOVE (printed
    # before) the map-side fold, i.e. consume its output
    assert i_ex == -1 or i_ex < i_map


def test_kmv_distinct_over_one_task_fold_has_no_exchange(spark):
    """A sized input small enough to fold in one task needs no merge:
    the fold's rows are the bottom-k, and the estimate's global
    aggregate reads that single partition without a shuffle."""
    from fastfilter_spark.plans import fold_partitions
    keys = spark.range(0, 2000, 1, 4).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("key"))
    assert fold_partitions(keys) == 1
    est = kmv_distinct(keys, "key", k=64)
    row = est.first()
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "MapPartitions" in plan and "Exchange" not in plan, plan
    kth = sorted({_h60(f"doc-{i}") for i in range(2000)})[63]
    assert (row.n_min, row.kth_hash) == (64, kth)
