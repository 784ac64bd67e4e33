"""AMS F2 sketch: blob-class invariants (accuracy, merge associativity,
wire format) and the DataFrame-algebra form (pure-python hash replay,
partition invariance, accuracy, edges)."""

import hashlib
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.functions.sketches import AMS, sketch_from_bytes
from fastfilter_spark.operators.moments import ams_f2, ams_f2_counters


def _zipf_keys(n: int, seed: int = 7) -> np.ndarray:
    rng = random.Random(seed)
    return np.array([int(rng.paretovariate(1.2)) % 500 for _ in range(n)],
                    dtype=np.int64)


def _exact_f2(vals) -> int:
    _, cnt = np.unique(np.asarray(vals), return_counts=True)
    return int(sum(int(c) * int(c) for c in cnt))


# -- blob class --------------------------------------------------------------

def test_ams_estimate_within_bound():
    vals = _zipf_keys(20000)
    exact = _exact_f2(vals)
    est = AMS(width=512, depth=7).update(vals).estimate()
    # per-row relative stderr = sqrt(2/width); median of 7 rows inside
    # 3 sigma of a single row with overwhelming probability
    assert abs(est - exact) <= 3 * exact * (2 / 512) ** 0.5


def test_ams_merge_associative_and_partition_invariant():
    vals = _zipf_keys(9000, seed=11)
    whole = AMS(64, 5).update(vals)
    a, b, c = vals[:3000], vals[3000:5000], vals[5000:]
    sa, sb, sc = (AMS(64, 5).update(x) for x in (a, b, c))
    m1 = sa.merge(sb).merge(sc)
    m2 = sc.merge(sa.merge(sb))
    m3 = sb.merge(sc).merge(sa)
    assert m1.to_bytes() == m2.to_bytes() == m3.to_bytes() \
        == whole.to_bytes()
    assert m1.estimate() == whole.estimate()


def test_ams_weighted_update_equals_repeats():
    keys = np.array([3, 5, 9], dtype=np.int64)
    cnts = np.array([4, 1, 7], dtype=np.int64)
    flat = np.repeat(keys, cnts)
    assert (AMS(32, 3).update(keys, cnts).to_bytes()
            == AMS(32, 3).update(flat).to_bytes())


def test_ams_wire_roundtrip_and_registry():
    sk = AMS(32, 3).update(_zipf_keys(500))
    back = sketch_from_bytes(sk.to_bytes())
    assert isinstance(back, AMS)
    assert back.to_bytes() == sk.to_bytes()
    assert back.estimate() == sk.estimate()
    assert back.total == sk.total == 500


def test_ams_edges():
    assert AMS(32, 3).estimate() == 0
    with pytest.raises(ValueError):
        AMS(1, 3)
    with pytest.raises(ValueError):
        AMS(32, 3).merge(AMS(64, 3))


def test_ams_in_multi_sketch_column(spark):
    from fastfilter_spark.operators.sketch_agg import multi_sketch_column
    vals = _zipf_keys(4000, seed=3)
    df = spark.createDataFrame([(int(v),) for v in vals], "k long") \
        .repartition(6)
    merged = multi_sketch_column(df, "k", {"f2": lambda: AMS(256, 5)})
    assert merged["f2"].to_bytes() == AMS(256, 5).update(vals).to_bytes()


# -- DataFrame algebra form --------------------------------------------------

def _py_ams_f2(keys, width: int, depth: int) -> int:
    """Pure-python replay of the portable-hash DataFrame estimator:
    one md5 digest covers 8 rows (16-bit hex fields); digest j is
    salted ``key:j``, j = 0 included; bucket = field >> 1 mod width,
    sign = low bit."""
    table = [[0] * width for _ in range(depth)]
    for key in keys:
        digests = {}
        for i in range(depth):
            j = i // 8
            if j not in digests:
                digests[j] = hashlib.md5(f"{key}:{j}".encode()).hexdigest()
            f = int(digests[j][4 * (i % 8):4 * (i % 8) + 4], 16)
            table[i][(f >> 1) % width] += 1 - 2 * (f % 2)
    ests = sorted(sum(c * c for c in row) for row in table)
    return ests[(depth - 1) // 2]


def test_ams_f2_matches_python_replay(spark):
    keys = [f"k{i % 37}" for i in range(400)]
    df = spark.createDataFrame([(s,) for s in keys], "key string")
    row = ams_f2(df, "key", width=32, depth=5).collect()[0]
    assert row.f2_est == _py_ams_f2(keys, 32, 5)
    assert (row.width, row.depth) == (32, 5)


def test_ams_f2_multi_digest_depth(spark):
    # depth > 8 crosses into the second (salted) md5 digest
    keys = [f"k{i % 19}" for i in range(300)]
    df = spark.createDataFrame([(s,) for s in keys], "key string")
    row = ams_f2(df, "key", width=16, depth=11).collect()[0]
    assert row.f2_est == _py_ams_f2(keys, 16, 11)


def test_ams_f2_digests_do_not_alias_across_keys(spark):
    """Digest 1 of key "a" must not be digest 0 of key "a:1": with an
    unsalted digest 0, rows 8-15 of one key reused rows 0-7 of the
    other."""
    def cells(key):
        df = spark.createDataFrame([(key,)], "key string")
        got = ams_f2_counters(df, "key", width=256, depth=16).collect()
        return {r.row: (r.bucket, r.c) for r in got}
    a, a1 = cells("a"), cells("a:1")
    assert [a[8 + i] for i in range(8)] != [a1[i] for i in range(8)]


def test_ams_f2_partition_invariant_and_accurate(spark):
    vals = _zipf_keys(6000, seed=5)
    rows = [(f"u{int(v)}",) for v in vals]
    df = spark.createDataFrame(rows, "key string")
    r1 = ams_f2(df.repartition(1), "key", width=256, depth=5).collect()[0]
    r13 = ams_f2(df.repartition(13), "key", width=256, depth=5).collect()[0]
    assert r1 == r13
    exact = _exact_f2(vals)
    assert abs(r1.f2_est - exact) <= 3 * exact * (2 / 256) ** 0.5


def test_ams_f2_counter_table_is_bounded(spark):
    df = spark.createDataFrame([(f"k{i}",) for i in range(5000)],
                               "key string")
    n = ams_f2_counters(df, "key", width=16, depth=3).count()
    assert n <= 16 * 3


def test_ams_f2_empty_and_null_inputs(spark):
    empty = spark.createDataFrame([], "key string")
    row = ams_f2(empty, "key", width=16, depth=3).collect()[0]
    assert (row.f2_est, row.width, row.depth) == (0, 16, 3)
    nulls = spark.createDataFrame([(None,), ("a",)], "key string")
    just_a = spark.createDataFrame([("a",)], "key string")
    assert (ams_f2(nulls, "key", 16, 3).collect()
            == ams_f2(just_a, "key", 16, 3).collect())


def test_ams_f2_rejects_biased_width(spark):
    df = spark.createDataFrame([("a",)], "key string")
    import pytest
    for bad in (20000, 100, 3, 65536):
        with pytest.raises(ValueError, match="power of two"):
            ams_f2_counters(df, "key", width=bad)
