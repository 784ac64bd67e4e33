"""Regression tests for the round-1 judge/advisor findings (ADVICE.md)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import build_sharded, probe_via_join
from fastfilter_spark.operators.skew import salted_agg


def test_checkpoint_rejects_changed_input(spark, sf_dir, tmp_path):
    """Resume against a grown input must fail loudly, not silently reuse
    stale shard payloads (ADVICE.md dist.py:376)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    small = li.where(F.col("l_orderkey") % 3 == 0)
    ckpt = str(tmp_path / "ck")
    build_sharded(small, "l_orderkey", kind="fuse8", shard_bits=2,
                  checkpoint_dir=ckpt)
    with pytest.raises(ValueError, match="different input"):
        build_sharded(li, "l_orderkey", kind="fuse8", shard_bits=2,
                      checkpoint_dir=ckpt)
    # same input reuses the table fine
    sf, _ = build_sharded(small, "l_orderkey", kind="fuse8", shard_bits=2,
                          checkpoint_dir=ckpt)
    keys = np.array(
        [r[0] for r in small.select("l_orderkey").distinct().collect()],
        dtype=np.int64)
    assert sf.contain_np(keys).all()


def test_salted_agg_salt_is_deterministic(spark, sf_dir):
    """The salt must be a pure function of row content — no
    monotonically_increasing_id / rand in the plan (ADVICE.md skew.py:64:
    nondeterministic shuffle keys corrupt results on stage retry)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = salted_agg(li, ["l_returnflag"],
                     {"n": ("count", "*"),
                      "q": ("sum", F.col("l_quantity").cast("long"))},
                     n_salts=8)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "monotonically_increasing_id" not in plan
    assert "rand(" not in plan
    exact = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("q"))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, exact.collect()))


def test_probe_via_join_rejects_duplicate_shard_rows(spark, sf_dir):
    """A filter table with two rows for one shard must raise, mirroring
    from_filter_table (ADVICE.md dist.py:433: probing an arbitrary row
    can silently pick a stale payload)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = li.select("l_orderkey").distinct().limit(200)
    _, table = build_sharded(keys, "l_orderkey", kind="fuse8", shard_bits=1)
    dup = table.unionAll(table)
    with pytest.raises(Exception, match="rows for shard"):
        probe_via_join(keys, "l_orderkey", dup).collect()
