"""Cogrouped join probe (the too-big-to-broadcast deployment mode)."""

import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import build_sharded, probe_via_join


def test_probe_via_join_matches_broadcast(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sf, table = build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2)

    members = li.select("l_orderkey").distinct()
    res = probe_via_join(members, "l_orderkey", table)
    assert res.where("member").count() == members.count()  # no false negs

    rand = spark.range(50_000).select(
        F.xxhash64(F.col("id") + F.lit(99)).alias("l_orderkey"))
    via_join = probe_via_join(rand, "l_orderkey", table) \
        .where("member").count()
    via_bc = rand.where(sf.contains_udf(spark)(F.col("l_orderkey"))).count()
    assert via_join == via_bc  # bit-identical probe decision per key


def test_probe_via_join_missing_shard_rows(spark, sf_dir):
    """Shards absent from the filter table (partial build) => non-member."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _, table = build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2)
    partial = table.where(F.col("shard") < 2)
    res = probe_via_join(li.select("l_orderkey").distinct(),
                         "l_orderkey", partial)
    # keys routed to missing shards come back member=false, none crash
    counts = dict(res.groupBy("member").count().collect())
    assert counts.get(True, 0) > 0 and counts.get(False, 0) > 0


def test_probe_via_join_leaves_no_cached_plan(spark):
    """num_shards=None must not leave the caller's build plan in the
    session's cache manager: Spark would then serve any later build
    over the same input from those rows (its plan an
    InMemoryTableScan, not a build).  Seen as an order-dependent
    failure of tests/test_plans.py::test_build_has_single_exchange run
    after this file."""
    from pyspark import StorageLevel

    from fastfilter_spark.operators.dist import build_sharded_table
    keys = spark.range(20_000).select(F.xxhash64("id").alias("key"))
    table = build_sharded_table(keys, "key", kind="fuse8", shard_bits=2)
    assert probe_via_join(keys, "key", table).where("member").count() \
        == 20_000
    again = build_sharded_table(keys, "key", kind="fuse8", shard_bits=2)
    assert again.storageLevel == StorageLevel.NONE


def test_probe_via_join_rejects_wrong_num_shards(spark):
    """Probe keys are routed by the caller's num_shards: against a table
    built with another count most members would land in the wrong shard
    and silently probe False, so the mismatch must raise."""
    keys = spark.range(20_000).select(
        (F.col("id") * 2654435761).alias("k"))
    _, table = build_sharded(keys, "k", kind="fuse8", shard_bits=2)
    with pytest.raises(Exception, match="num_shards=2 but the filter "
                                        "table was built with num_shards=4"):
        probe_via_join(keys, "k", table, num_shards=2).collect()
    res = probe_via_join(keys, "k", table, num_shards=4)
    assert res.where("member").count() == 20_000


def test_register_sql_udf_probes_in_pure_sql(spark):
    """SQL users probe via ff_contains(); zero false negatives and the
    fpp bound must hold through the SQL registration path too."""
    from pyspark.sql import functions as F
    from fastfilter_spark.operators.dist import build_sharded

    keys = spark.range(5000).select(
        (F.col("id") * 2654435761).alias("k"))
    sf, _ = build_sharded(keys, "k", kind="fuse8", shard_bits=2)
    name = sf.register_sql_udf(spark, "ff_contains_test")
    assert name == "ff_contains_test"

    keys.createOrReplaceTempView("member_keys")
    spark.range(5000, 25000).select(
        F.xxhash64(F.col("id") + 999).alias("k")) \
        .createOrReplaceTempView("novel_keys")
    n_members = spark.sql(
        "SELECT count(*) c FROM member_keys "
        "WHERE ff_contains_test(k)").first().c
    assert n_members == 5000          # no false negatives via SQL
    n_novel = spark.sql(
        "SELECT count(*) c FROM novel_keys "
        "WHERE ff_contains_test(k)").first().c
    assert n_novel <= 20000 * 2 * 2**-8   # fpp bound holds

    # re-registration rebinds: an empty-ish filter drops members
    other, _ = build_sharded(
        spark.range(10).select((F.col("id") + 10**15).alias("k")),
        "k", kind="fuse8", shard_bits=2)
    other.register_sql_udf(spark, "ff_contains_test")
    n_after = spark.sql(
        "SELECT count(*) c FROM member_keys "
        "WHERE ff_contains_test(k)").first().c
    assert n_after < 200
