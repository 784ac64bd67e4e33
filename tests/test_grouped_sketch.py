"""Grouped mergeable sketch aggregation (sketch_by_key /
hll_distinct_by_key): per-key partials fold map-side, only KB blobs
shuffle, and the final per-key register state — hence the estimate —
is a pure function of each key's value SET (partitioning-invariant).
"""

import math

import pytest
from pyspark.sql import Row, functions as F

from fastfilter_spark.functions.sketches import HyperLogLog, sketch_from_bytes
from fastfilter_spark.operators.sketch_agg import (
    hll_distinct_by_key, sketch_by_key,
)


@pytest.fixture(scope="module")
def keyed_df(spark):
    # 4 keys with distinct cardinalities 1000/2000/3000/4000, values
    # overlapping across keys to catch cross-key state bleed
    rows = spark.range(0, 10_000)
    return rows.select(
        (F.col("id") % 4).alias("k"),
        (F.xxhash64((F.col("id") / 4).cast("long") %
                    ((F.col("id") % 4 + 1) * 1000))).alias("v"))


def test_hll_by_key_within_bound(spark, keyed_df):
    p = 12
    est = {r["k"]: r["approx_distinct"] for r in
           hll_distinct_by_key(keyed_df, ["k"], "v", p=p).collect()}
    exact = {r["k"]: r["d"] for r in
             keyed_df.groupBy("k")
             .agg(F.count_distinct("v").alias("d")).collect()}
    bound = 3 * 1.04 / math.sqrt(1 << p)
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) / exact[k] <= bound, (k, est[k],
                                                            exact[k])


def test_grouped_estimates_partition_invariant(spark, keyed_df):
    from fastfilter_spark.operators.sketch_agg import _by_key_partials
    from tests.conftest import count_partials, one_fold_task_per_partition
    outs, partials = [], []
    # keep one partial per partition: the fold sizing would run this
    # tiny input as one task, and the per-key merge would merge nothing
    with one_fold_task_per_partition(spark):
        for parts in (1, 3, 16):
            src = keyed_df.repartition(parts)
            got = hll_distinct_by_key(src, ["k"], "v")
            outs.append(sorted((r["k"], r["approx_distinct"])
                               for r in got.collect()))
            partials.append(count_partials(_by_key_partials(
                src, ["k"], "v", lambda: HyperLogLog(12), False, 4096)))
    assert partials == [1, 3, 16]
    assert outs[0] == outs[1] == outs[2]


def test_max_partials_flush_is_lossless(spark, keyed_df):
    """Forcing per-task flushes (max_partials=2 with 4 keys) emits
    multiple partial blobs per key from one task; the per-key merge
    must reassemble the identical final sketch."""
    a = sketch_by_key(keyed_df, ["k"], "v", lambda: HyperLogLog(10),
                      max_partials=2).collect()
    b = sketch_by_key(keyed_df, ["k"], "v", lambda: HyperLogLog(10),
                      max_partials=1 << 20).collect()
    sa = {r["k"]: bytes(r["sketch"]) for r in a}
    sb = {r["k"]: bytes(r["sketch"]) for r in b}
    assert set(sa) == set(sb)
    for k in sa:
        ea = sketch_from_bytes(sa[k]).estimate()
        eb = sketch_from_bytes(sb[k]).estimate()
        assert ea == eb, k


def test_null_keys_and_values_excluded(spark):
    df = spark.createDataFrame([
        Row(k="a", v=1), Row(k="a", v=2), Row(k="a", v=None),
        Row(k=None, v=3), Row(k="b", v=4),
    ])
    got = {r["k"]: r["approx_distinct"] for r in
           hll_distinct_by_key(df, ["k"], "v").collect()}
    assert got == {"a": 2, "b": 1}


def test_string_values_hashed(spark):
    df = spark.createDataFrame(
        [Row(k=i % 2, v=f"url-{i % 600}") for i in range(5000)])
    got = {r["k"]: r["approx_distinct"] for r in
           hll_distinct_by_key(df, ["k"], "v", p=12).collect()}
    for k, est in got.items():
        exact = 300
        assert abs(est - exact) / exact <= 3 * 1.04 / math.sqrt(1 << 12)


def test_multi_key_columns(spark):
    df = spark.createDataFrame(
        [Row(a="x", b=i % 3, v=i % 50) for i in range(1000)])
    got = sorted((r["a"], r["b"], r["approx_distinct"]) for r in
                 hll_distinct_by_key(df, ["a", "b"], "v").collect())
    # values i%50 within each (x, i%3) group: ~17 distinct each (small
    # enough that HLL p=12 is exact)
    exact = {(("x", b)): len({i % 50 for i in range(1000) if i % 3 == b})
             for b in range(3)}
    assert got == sorted((a, b, exact[(a, b)]) for (a, b) in exact)


def test_no_row_shuffle_in_plan(spark, keyed_df):
    """The exchange must carry partial BLOBS, not rows: the plan's
    only shuffle sits above the first mapInPandas (map-side combine),
    so raw rows never cross the cluster."""
    from tests.conftest import one_fold_task_per_partition

    def plan_of():
        df = sketch_by_key(keyed_df, ["k"], "v", lambda: HyperLogLog(10))
        return df._jdf.queryExecution().executedPlan().toString()

    # a tiny input folds in ONE task, so the per-key merge needs no
    # exchange at all
    assert "Exchange" not in plan_of()
    # the shape of an input too large to coalesce: one partial stage
    # feeding one hash-partitioned exchange
    with one_fold_task_per_partition(spark):
        plan = plan_of()
    first_exchange = plan.find("Exchange hashpartitioning")
    first_partial = plan.find("MapInPandas")
    assert first_exchange != -1 and first_partial != -1
    # executedPlan prints top-down: the exchange (downstream) appears
    # BEFORE the partial mapInPandas (upstream) in the string, meaning
    # the shuffle consumes the partials' output, not the raw input
    assert first_exchange < first_partial


def test_max_partials_is_hard_bound_within_one_batch():
    """Review finding: the partial-dict cap must hold INSIDE a wide
    Arrow batch, not just between batches — one batch with more
    distinct keys than max_partials previously overshot the documented
    memory bound by the whole batch's key count."""
    import pandas as pd

    from fastfilter_spark.operators.sketch_agg import _grouped_partial_map

    cap = 8
    fn = _grouped_partial_map(["k"], "v", lambda: HyperLogLog(8),
                              as_float=False, max_partials=cap)
    wide = pd.DataFrame({"k": list(range(100)), "v": list(range(100))})
    frames = list(fn(iter([wide])))
    assert sum(len(f) for f in frames) == 100      # every key emitted
    assert all(len(f) <= cap for f in frames)      # bound never exceeded
