"""Distributed sharded-filter tests (local-mode Spark).

Mirrors the reference lifecycle assertions (tests/unit.c:38-101) at the
distributed layer: zero false negatives, fpp bound, byte-level
partition-order invariance, checkpoint reuse, semi-join pruning
exactness.
"""

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import (
    build_sharded, choose_shard_bits, semi_join_prune, shard_of_hash,
)


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_choose_shard_bits():
    assert choose_shard_bits(1000) == 0
    assert choose_shard_bits(1 << 22) == 0
    assert choose_shard_bits((1 << 22) + 1) == 1
    assert choose_shard_bits(1 << 30) == 8
    assert choose_shard_bits(1 << 60) == 16  # capped


def _sql_plans(spark, fn) -> list[str]:
    """Physical plan text of every SQL execution ``fn()`` runs, read
    from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]
    seen = max([e.executionId() for e in executions()], default=-1)
    fn()
    return [e.physicalPlanDescription() for e in executions()
            if e.executionId() > seen]


def test_shard_sizing_counts_input_rows(spark):
    """Without shard_bits a build sizes its shards by input rows,
    duplicates included: those are what a shard's build buffers.  A
    4x-duplicated input gets choose_shard_bits(rows, target), more
    shards than its distinct count asks for; a duplicate-free one keeps
    the shard count the distinct count gives."""
    ids = np.arange(3000, dtype=np.int64) * 2654435761
    dup = spark.createDataFrame([(int(k),) for k in np.repeat(ids, 4)],
                                "k long")
    sf, table = build_sharded(dup, "k", target_keys_per_shard=1000)
    assert sf.shard_bits == choose_shard_bits(ids.size * 4, 1000) == 4
    assert choose_shard_bits(ids.size, 1000) == 2
    rows = table.collect()
    assert sum(r["input_rows"] for r in rows) == ids.size * 4
    assert sum(r["distinct_keys"] for r in rows) == ids.size
    assert sf.contain_np(ids).all()

    uniq = spark.createDataFrame([(int(k),) for k in ids], "k long")
    sf, _ = build_sharded(uniq, "k", target_keys_per_shard=1000)
    approx = uniq.select(F.approx_count_distinct("k")).first()[0]
    assert sf.shard_bits == choose_shard_bits(approx, 1000) == 2


def test_shard_sizing_runs_no_hll_scan(spark, lineitem):
    """Sizing reads the input's row count, not an approx-distinct (HLL)
    scan of the keys: no plan the build runs holds one, and the build
    itself is the jar's aggregate."""
    plans = _sql_plans(spark, lambda: build_sharded(
        lineitem, "l_orderkey", target_keys_per_shard=1000))
    assert any("count(" in p for p in plans), plans
    assert any("filterbuild(" in p for p in plans), plans
    for p in plans:
        assert "approx_count_distinct" not in p, p
        assert "HyperLogLogPlusPlus" not in p, p


@pytest.mark.parametrize("kind,shard_bits", [("fuse8", 2), ("xor8", 1),
                                             ("fuse16", 0)])
def test_sharded_no_false_negatives(spark, lineitem, kind, shard_bits):
    sf, table = build_sharded(lineitem, "l_orderkey", kind=kind,
                              shard_bits=shard_bits)
    rows = table.collect()
    assert len(rows) == 1 << shard_bits
    # lineage sanity
    n_distinct = lineitem.select("l_orderkey").distinct().count()
    assert sum(r["distinct_keys"] for r in rows) == n_distinct
    assert sum(r["input_rows"] for r in rows) == lineitem.count()

    # zero false negatives, probed through the Spark UDF path
    probed = lineitem.select("l_orderkey").distinct() \
        .where(sf.contains_udf(spark)(F.col("l_orderkey"))).count()
    assert probed == n_distinct


def test_sharded_fpp_bound(spark, lineitem):
    sf, _ = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2)
    rng = np.random.default_rng(7)
    probes = rng.integers(1 << 40, 1 << 62, size=200_000, dtype=np.uint64)
    hits = int(sf.contain_np(probes).sum())
    fpp = hits / probes.size
    assert fpp <= (1 / 256) * 1.35  # 2^-8 with sampling slack


def test_partition_order_invariance(spark, lineitem):
    """Filter bytes must not depend on input partitioning/order
    (BASELINE.md merge/partition-order invariance target)."""
    a, _ = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2)
    shuffled = lineitem.orderBy(F.rand(seed=3)).repartition(13)
    b, _ = build_sharded(shuffled, "l_orderkey", kind="fuse8", shard_bits=2)
    assert a.payloads == b.payloads


def test_checkpoint_resume(spark, lineitem, tmp_path):
    ckpt = str(tmp_path / "filters")
    a, ta = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=ckpt)
    # rerun: all shards present -> no rebuild, identical bytes
    b, tb = build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=ckpt)
    assert a.payloads == b.payloads
    assert tb.count() == 4

    # a table cut short by hand holds no manifest: refused, not extended
    kept = spark.read.parquet(ckpt).where(F.col("shard") < 2)
    tmp2 = str(tmp_path / "filters2")
    kept.write.parquet(tmp2)
    files = sorted(os.listdir(tmp2))
    with pytest.raises(ValueError, match="no committed build"):
        build_sharded(lineitem, "l_orderkey", kind="fuse8", shard_bits=2,
                      checkpoint_dir=tmp2)
    assert sorted(os.listdir(tmp2)) == files


def _part_files(path) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _manifest(ckpt) -> dict:
    with open(os.path.join(ckpt, "_filter_build.json")) as f:
        return json.load(f)


def _rerun(spark, df, **kw):
    """(SQL plans run, filter) of a checkpointed ``build_sharded``."""
    out = []
    plans = _sql_plans(spark, lambda: out.append(
        build_sharded(df, "key", **kw)[0]))
    return plans, out[0]


def test_checkpoint_rerun_runs_no_build(spark, tmp_path):
    """A matching rerun over a committed file-backed table reads its
    manifest, skips the recount (the input fingerprint matches) and
    runs only the spot check and the payload collect."""
    src = str(tmp_path / "keys")
    spark.range(20000).select(F.xxhash64("id").alias("key")) \
        .write.parquet(src)
    keys = spark.read.parquet(src)
    ckpt = str(tmp_path / "ck")
    a, _ = build_sharded(keys, "key", shard_bits=2, checkpoint_dir=ckpt)
    manifest = _manifest(ckpt)
    assert manifest["kind"] == "fuse8" and manifest["num_shards"] == 4
    assert manifest["arity"] == 3 and manifest["input"] is not None
    plans, b = _rerun(spark, keys, shard_bits=2, checkpoint_dir=ckpt)
    assert not any("filterbuild(" in p for p in plans), plans
    assert len(plans) <= 2, plans
    assert b.payloads == a.payloads


def test_checkpoint_with_empty_shards_is_not_rebuilt(spark, tmp_path):
    """20 keys over 16 shards leave some shards without a row.  Those
    shards are empty, not missing: a rerun builds nothing and writes no
    file."""
    keys = spark.createDataFrame([(i * 7919,) for i in range(20)],
                                 "key long")
    ckpt = str(tmp_path / "ck")
    a, table = build_sharded(keys, "key", shard_bits=4, checkpoint_dir=ckpt)
    assert table.count() < 16
    files = _part_files(ckpt)
    for _ in range(2):
        plans, b = _rerun(spark, keys, shard_bits=4, checkpoint_dir=ckpt)
        assert not any("filterbuild(" in p for p in plans), plans
        assert _part_files(ckpt) == files
        assert b.payloads == a.payloads


def test_checkpoint_file_uri_round_trip(spark, lineitem, tmp_path):
    """A file:// checkpoint_dir: the manifest is written and read back
    through the Hadoop FileSystem, and the rerun reuses the table."""
    ckpt = (tmp_path / "ck").as_uri()
    keys = lineitem.select(F.col("l_orderkey").alias("key"))
    a, _ = build_sharded(keys, "key", shard_bits=1, checkpoint_dir=ckpt)
    assert _manifest(tmp_path / "ck")["num_shards"] == 2
    plans, b = _rerun(spark, keys, shard_bits=1, checkpoint_dir=ckpt)
    assert not any("filterbuild(" in p for p in plans), plans
    assert b.payloads == a.payloads


def test_checkpoint_refuses_foreign_parquet(spark, tmp_path):
    """A directory holding parquet files but no manifest (another
    writer's table, or one an older library version wrote) is refused
    and left as it is."""
    ckpt = str(tmp_path / "foreign")
    spark.range(10).write.parquet(ckpt)
    files = sorted(os.listdir(ckpt))
    keys = spark.range(100).select(F.col("id").alias("key"))
    with pytest.raises(ValueError, match="use a fresh directory"):
        build_sharded(keys, "key", shard_bits=1, checkpoint_dir=ckpt)
    assert sorted(os.listdir(ckpt)) == files


def test_checkpoint_in_memory_rerun_reuses_by_recount(spark, tmp_path):
    """An in-memory input has no file listing, so its manifest stores
    no input fingerprint: the rerun recounts rows per shard and reuses
    the table when they match (run_pipeline.py reruns on synthesized
    input rely on this); a changed input is refused."""
    keys = spark.createDataFrame([(i * 104729,) for i in range(500)],
                                 "key long")
    ckpt = str(tmp_path / "ck")
    a, _ = build_sharded(keys, "key", shard_bits=2, checkpoint_dir=ckpt)
    assert _manifest(ckpt)["input"] is None
    plans, b = _rerun(spark, keys, shard_bits=2, checkpoint_dir=ckpt)
    assert not any("filterbuild(" in p for p in plans), plans
    assert any("count(" in p for p in plans), plans
    assert b.payloads == a.payloads
    with pytest.raises(ValueError, match="different input"):
        build_sharded(keys.limit(499), "key", shard_bits=2,
                      checkpoint_dir=ckpt)


def test_semi_join_prune_exact(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # dim = customers in nation < 10; filter over their keys
    dim = customer.where(F.col("c_nationkey") < 10) if \
        "c_nationkey" in customer.columns else customer.limit(50)
    sf, _ = build_sharded(dim, "c_custkey", kind="fuse8", shard_bits=1)
    pruned = semi_join_prune(orders, "o_custkey", sf, dim, "c_custkey")
    exact = orders.join(dim.select("c_custkey").distinct(),
                        orders["o_custkey"] == F.col("c_custkey"), "left_semi")
    assert pruned.count() == exact.count()


def test_shard_routing_matches_probe(spark):
    keys = np.arange(10_000, dtype=np.uint64) * np.uint64(2654435761)
    shards = shard_of_hash(keys, 3)
    assert shards.min() >= 0 and shards.max() < 8
    # roughly uniform
    counts = np.bincount(shards, minlength=8)
    assert counts.min() > 10_000 / 8 * 0.8


def test_driver_and_udf_probe_agree(spark, lineitem):
    sf, _ = build_sharded(lineitem, "l_orderkey", kind="xor16", shard_bits=1)
    keys_df = lineitem.select("l_orderkey").distinct().limit(500)
    udf_rows = keys_df.withColumn(
        "hit", sf.contains_udf(spark)(F.col("l_orderkey"))).collect()
    keys = np.array([r["l_orderkey"] for r in udf_rows], dtype=np.int64)
    np_hits = sf.contain_np(keys)
    assert all(bool(r["hit"]) == bool(h) for r, h in zip(udf_rows, np_hits))


def test_one_broadcast_probe_site():
    """Every broadcast probe goes through dist.broadcast_probe: the
    library broadcasts from one line, the JVM broadcast of the compiled
    probe, so swapping the probe implementation is one edit."""
    import inspect
    import pathlib

    import fastfilter_spark
    from fastfilter_spark.operators import dist
    root = pathlib.Path(fastfilter_spark.__file__).parent
    lines, first = inspect.getsourcelines(dist.broadcast_probe)
    inside = {f"operators/dist.py:{i}"
              for i in range(first, first + len(lines))}
    sites = [f"{p.relative_to(root)}:{i}"
             for p in sorted(root.rglob("*.py"))
             for i, line in enumerate(p.read_text().splitlines(), 1)
             if "sparkContext.broadcast(" in line
             or "_jsc.broadcast(" in line]
    assert len(sites) == 1 and set(sites) <= inside, sites


def test_probe_tier_is_jvm(spark):
    """Every xor/fuse probe runs inside the JVM: the plan has no Python
    evaluation node, which would cost a Python round trip per batch
    without any other symptom."""
    sf, _ = build_sharded(spark.range(1000), "id", kind="fuse8",
                          shard_bits=1)
    probed = spark.range(1000).where(sf.contains_udf(spark)("id"))
    assert probed.count() == 1000
    plan = probed._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, (node, plan)
    assert sf.register_sql_udf(spark, "ff_contains_tier") \
        == "ff_contains_tier"
    # SQL hands an INT argument to the UDF unconverted
    assert spark.sql("SELECT count(*) AS c FROM range(1000) "
                     "WHERE ff_contains_tier(CAST(id AS INT))").first().c \
        == 1000
