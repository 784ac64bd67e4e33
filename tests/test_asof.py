"""asof_join: union+window greatest-lower-bound semantics."""
import datetime as dt

import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.asof import asof_join


def _ts(m):
    return dt.datetime(2026, 1, 1, 0, m)


@pytest.fixture()
def sides(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a"), (1, _ts(10), "b"), (1, _ts(2), "c"),
         (2, _ts(7), "d"), (3, _ts(4), "e")],
        "k long, t timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts(3), 30), (1, _ts(5), 50), (1, _ts(9), 90),
         (2, _ts(8), 80)],
        "k long, rt timestamp, rv long")
    return left, right


def test_backward_inclusive_semantics(sides):
    left, right = sides
    got = {r["lv"]: (r["rt_r"], r["rv_r"])
           for r in asof_join(left, right, "k", "t", "rt").collect()}
    assert got["a"] == (_ts(5), 50)     # tie: inclusive, takes rt==t
    assert got["b"] == (_ts(9), 90)     # newest at-or-before
    assert got["c"] == (None, None)     # nothing before 00:02
    assert got["d"] == (None, None)     # right row is AFTER left t
    assert got["e"] == (None, None)     # key never on right side
    assert len(got) == 5                # every left row survives


def test_tolerance_nulls_stale_matches(sides):
    left, right = sides
    got = {r["lv"]: r["rv_r"]
           for r in asof_join(left, right, "k", "t", "rt",
                              tolerance=F.expr("INTERVAL 1 MINUTE"))
           .collect()}
    assert got["a"] == 50               # exact-time match, age 0
    assert got["b"] == 90               # age 1 min == tolerance: kept
    assert got["c"] is None


def test_right_cols_subset_and_suffix(sides):
    left, right = sides
    out = asof_join(left, right, "k", "t", "rt",
                    right_cols=["rv"], suffix="_x")
    assert set(out.columns) == {"k", "t", "lv", "rt_x", "rv_x"}


def test_collision_and_reserved_validation(sides):
    left, right = sides
    with pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumn("rv_r", F.lit(1)), right,
                  "k", "t", "rt")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left.withColumn("_ff_asof_tag", F.lit(1)), right,
                  "k", "t", "rt")


def test_single_exchange_plan(sides):
    left, right = sides
    plan = (asof_join(left, right, "k", "t", "rt")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1


def test_matches_duckdb_native_asof(spark):
    import duckdb
    import pandas as pd
    rows_l = [(i % 7, _ts(i % 50), i) for i in range(300)]
    rows_r = [(i % 5, _ts((i * 3) % 45), i * 10) for i in range(100)]
    left = spark.createDataFrame(rows_l, "k long, t timestamp, lid long")
    right = spark.createDataFrame(rows_r, "k long, rt timestamp, rv long")
    got = (asof_join(left, right, "k", "t", "rt", right_cols=["rv"])
           .orderBy("lid").toPandas())
    con = duckdb.connect()
    con.register("l", pd.DataFrame(rows_l, columns=["k", "t", "lid"]))
    con.register("r", pd.DataFrame(rows_r, columns=["k", "rt", "rv"]))
    # DuckDB ASOF keeps only ONE right row per left row (greatest
    # rt <= t) but needs a deterministic rv when duplicate rt exist:
    # collapse duplicates to max(rv) per (k, rt) first, matching the
    # window's last-in-order tie resolution.
    exp = con.execute(
        "WITH rr AS (SELECT k, rt, max(rv) AS rv FROM r GROUP BY 1, 2) "
        "SELECT l.k, l.t, l.lid, rr.rt AS rt_r, rr.rv AS rv_r "
        "FROM l ASOF LEFT JOIN rr ON l.k = rr.k AND l.t >= rr.rt "
        "ORDER BY lid").df()
    a = got[["lid", "rt_r", "rv_r"]].reset_index(drop=True)
    b = exp[["lid", "rt_r", "rv_r"]].reset_index(drop=True)
    assert a["lid"].tolist() == b["lid"].tolist()
    assert a["rv_r"].fillna(-1).tolist() == b["rv_r"].fillna(-1).tolist()
    assert a["rt_r"].astype(str).tolist() == b["rt_r"].astype(str).tolist()


def test_reserved_internal_columns_all_guarded(sides):
    left, right = sides
    for bad in ("_ff_t", "_ff_payload", "_ff_m"):
        with pytest.raises(ValueError, match="reserved"):
            asof_join(left.withColumn(bad, F.lit(1)), right,
                      "k", "t", "rt")
        with pytest.raises(ValueError, match="reserved"):
            asof_join(left, right.withColumn(bad, F.lit(1)),
                      "k", "t", "rt")


def test_map_payload_supported_without_tiebreak(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a")], "k long, t timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts(3), {"ua": "deny"})],
        "k long, rt timestamp, rules map<string,string>")
    got = asof_join(left, right, "k", "t", "rt").collect()
    assert got[0]["rules_r"] == {"ua": "deny"}


def test_null_timestamps_never_match(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a"), (1, None, "b")],
        "k long, t timestamp, lv string")
    right = spark.createDataFrame(
        [(1, None, 99), (1, _ts(10), 100)],
        "k long, rt timestamp, rv long")
    got = {r["lv"]: (r["rt_r"], r["rv_r"])
           for r in asof_join(left, right, "k", "t", "rt").collect()}
    # the null-rt right row must not be carried anywhere, and the
    # rt=10 row is AFTER t=5; the null-t left row matches nothing
    assert got == {"a": (None, None), "b": (None, None)}


def test_dotted_carried_column_names(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a")], "k long, t timestamp, lv string")
    right = (spark.createDataFrame(
        [(1, _ts(3), 7)], "k long, rt timestamp, v long")
        .withColumnRenamed("v", "meta.v"))
    got = asof_join(left, right, "k", "t", "rt").collect()[0]
    assert got["meta.v_r"] == 7 and got["rt_r"] == _ts(3)


# -- hot-key bucketed path ----------------------------------------------------

def test_bucketed_matches_unbucketed_under_skew(spark):
    # one key holds 90% of both sides; the others share the rest
    rows_l = [((0 if i % 10 else i % 4 + 1), _ts(i % 55), i)
              for i in range(400)]
    rows_r = [((0 if i % 10 else i % 4 + 1), _ts((i * 7) % 50), i * 10)
              for i in range(150)]
    left = spark.createDataFrame(rows_l, "k long, t timestamp, lid long")
    right = spark.createDataFrame(rows_r, "k long, rt timestamp, rv long")
    base = (asof_join(left, right, "k", "t", "rt")
            .orderBy("lid").collect())
    # 300-second buckets split the hour of data ~11 ways
    bkt = (asof_join(left, right, "k", "t", "rt", bucket=300)
           .orderBy("lid").collect())
    assert bkt == base


def test_bucketed_plan_exchanges_on_key_and_bucket(sides):
    left, right = sides
    plan = (asof_join(left, right, "k", "t", "rt", bucket=60)
            ._jdf.queryExecution().executedPlan().toString())
    # the main window's exchange is keyed by (k, _ff_bkt): the hot key
    # parallelizes across its time buckets
    assert "hashpartitioning(k" in plan and "_ff_bkt" in plan.split(
        "hashpartitioning(k", 1)[1].split(")", 1)[0]


def test_bucketed_seed_carries_across_empty_buckets(spark):
    # right rows exist ONLY in the first minute; left rows hours later
    # in buckets with no right rows must still match via the seed carry
    left = spark.createDataFrame(
        [(1, _ts(40), "late"), (1, _ts(1), "early")],
        "k long, t timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts(0), 10), (1, _ts(2), 20)],
        "k long, rt timestamp, rv long")
    got = {r["lv"]: r["rv_r"]
           for r in asof_join(left, right, "k", "t", "rt",
                              bucket=60).collect()}
    assert got == {"late": 20, "early": 10}


def test_bucketed_numeric_time(spark):
    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 7, "b"), (1, -5, "c")],
        "k long, t long, lv string")
    right = spark.createDataFrame(
        [(1, 6, 60), (1, 90, 900), (1, -9, -90)],
        "k long, rt long, rv long")
    for b in (None, 10, 64):
        got = {r["lv"]: r["rv_r"]
               for r in asof_join(left, right, "k", "t", "rt",
                                  bucket=b).collect()}
        assert got == {"a": 900, "b": 60, "c": -90}, f"bucket={b}"


def test_bucketed_tolerance_nulls_stale_seed_match(spark):
    # the only candidate arrives via the cross-bucket seed carry AND is
    # older than the tolerance: the match must be nulled, exactly as on
    # the unbucketed path
    left = spark.createDataFrame(
        [(1, _ts(45), "stale"), (1, _ts(3), "fresh")],
        "k long, t timestamp, lv string")
    right = spark.createDataFrame(
        [(1, _ts(2), 20)], "k long, rt timestamp, rv long")
    for b in (None, 60):
        got = {r["lv"]: r["rv_r"]
               for r in asof_join(left, right, "k", "t", "rt",
                                  tolerance=F.expr("INTERVAL 5 MINUTES"),
                                  bucket=b).collect()}
        assert got == {"stale": None, "fresh": 20}, f"bucket={b}"


def test_bucketed_null_times_and_map_payload(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a"), (1, None, "b")],
        "k long, t timestamp, lv string")
    right = spark.createDataFrame(
        [(1, None, None), (1, _ts(3), {"ua": "deny"})],
        "k long, rt timestamp, rules map<string,string>")
    got = {r["lv"]: r["rules_r"]
           for r in asof_join(left, right, "k", "t", "rt",
                              bucket=60).collect()}
    assert got == {"a": {"ua": "deny"}, "b": None}


def test_bucketed_null_keys_match_unbucketed(spark):
    # a null key's only candidate sits in an EARLIER bucket, so it
    # arrives through the seed carry; both windows group null keys
    # together, so both paths must match it
    left = spark.createDataFrame(
        [(None, 100, "n_late"), (None, 3, "n_early"), (1, 100, "one")],
        "k long, t long, lv string")
    right = spark.createDataFrame(
        [(None, 2, 20), (1, 5, 50)], "k long, rt long, rv long")
    outs = [{r["lv"]: r["rv_r"]
             for r in asof_join(left, right, "k", "t", "rt",
                                bucket=b).collect()}
            for b in (None, 10)]
    assert outs[0] == outs[1] == {"n_late": 20, "n_early": 20, "one": 50}


def test_property_bucketed_equals_unbucketed_and_python_oracle(spark):
    """Randomized equivalence: both execution paths against a direct
    python greatest-lower-bound oracle (hypothesis drives the data; a
    handful of examples — each is two Spark jobs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # null keys group together on both paths (the oracle's None == None)
    keys = st.one_of(st.none(), st.integers(0, 3))
    rows_l = st.lists(st.tuples(keys, st.integers(-50, 50)),
                      min_size=1, max_size=40)
    rows_r = st.lists(st.tuples(keys,
                                st.integers(-50, 50),
                                st.integers(0, 9)),
                      min_size=0, max_size=40)

    @given(ls=rows_l, rs=rows_r, bucket=st.sampled_from([1, 7, 64]))
    @settings(deadline=None, max_examples=8,
              suppress_health_check=[HealthCheck.too_slow])
    def prop(ls, rs, bucket):
        left = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(ls)],
            "k long, t long, lid long")
        right = spark.createDataFrame(rs, "k long, rt long, rv long") \
            if rs else spark.createDataFrame([], "k long, rt long, rv long")

        def oracle(k, t):
            cand = [(rt, rv) for (rk, rt, rv) in rs
                    if rk == k and rt <= t]
            return max(cand)[1] if cand else None

        exp = {i: oracle(k, t) for i, (k, t) in enumerate(ls)}
        for b in (None, bucket):
            got = {r["lid"]: r["rv_r"]
                   for r in asof_join(left, right, "k", "t", "rt",
                                      bucket=b).collect()}
            assert got == exp, f"bucket={b}"

    prop()


def test_bucket_width_validation(sides):
    left, right = sides
    with pytest.raises(ValueError, match="positive"):
        asof_join(left, right, "k", "t", "rt", bucket=0)
    # sub-microsecond width on a timestamp column converts to 0 base
    # units and must be rejected, not silently collapse the window
    with pytest.raises(ValueError, match="resolution"):
        asof_join(left, right, "k", "t", "rt", bucket=1e-7)


def test_bucket_id_exact_past_float53(spark):
    # numeric times beyond 2^53: the float path would round bucket
    # boundaries; the decimal path must floor exactly
    from fastfilter_spark.operators.asof import _bucket_id
    from pyspark.sql.types import LongType
    w = 3_600_000_000_000
    vals = [2**60 - 1, 2**60, 2**60 + 1, -(2**60), -(2**60) + 1]
    df = spark.createDataFrame([(v,) for v in vals], "t long")
    got = [r[0] for r in
           df.select(_bucket_id(LongType(), "t", w)).collect()]
    assert got == [v // w for v in vals]
