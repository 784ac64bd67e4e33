"""The one JVM tier: the jar compiles wherever Spark runs, and the Bloom
probe's Java port gives sketches.Bloom.contains's bits.

The jar (native/FilterProbe.java + FilterBuild.java) is compiled by the
Janino compiler Spark ships, inside the session's JVM, so a host with a
JRE and no JDK builds and probes like any other.
"""

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fastfilter_spark.functions import native
from fastfilter_spark.functions.sketches import Bloom
from fastfilter_spark.operators import dist
from fastfilter_spark.operators.sketch_agg import bloom_contains_udf

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# n_bits 61 and 8191 are not multiples of 8; 61 bits with 30 members
# sets most bits, so both answers occur among non-members
_SHAPES = [(61, 3), (1024, 7), (8191, 5), (100_003, 2)]


def _probe_keys(rng) -> list:
    return ([int(k) for k in rng.integers(-2**63, 2**63 - 1, 400,
                                          dtype=np.int64)]
            + [-2**63, -2**63 + 1, -1, 0, 1, 2**63 - 2, 2**63 - 1, None])


@pytest.mark.parametrize("n_bits,k", _SHAPES)
def test_bloom_jvm_probe_matches_contains_long_keys(spark, n_bits, k):
    """The raw-long path: every key's bit is Bloom.contains's, members
    probe True and a null key probes False."""
    rng = np.random.default_rng(n_bits)
    keys = _probe_keys(rng)
    members = np.array(keys[:30], dtype=np.int64)
    bloom = Bloom(n_bits, k).update(members)
    df = spark.createDataFrame([(x,) for x in keys],
                               StructType([StructField("k", LongType())]))
    got = {r["k"]: r["m"] for r in df.select(
        "k", bloom_contains_udf(bloom, spark)("k").alias("m")).collect()}
    present = np.array([x for x in keys if x is not None], dtype=np.int64)
    want = dict(zip(present.tolist(), bloom.contains(present).tolist()))
    assert got.pop(None) is False
    assert got == want, (n_bits, k)
    assert all(got[int(m)] for m in members)
    assert set(want.values()) == {True, False}


@pytest.mark.parametrize("n_bits,k", _SHAPES)
def test_bloom_jvm_probe_matches_contains_string_keys(spark, n_bits, k):
    """The xxhash64 string path: a string key's bit is Bloom.contains
    of Spark's xxhash64 of it, and a null string probes False."""
    rng = np.random.default_rng(n_bits + 1)
    strings = [None if x is None else f"url/{x}"
               for x in _probe_keys(rng)]
    df = spark.createDataFrame([(x,) for x in strings],
                               StructType([StructField("s", StringType())]))
    hashes = {r["s"]: r["h"] for r in
              df.select("s", F.xxhash64("s").alias("h")).collect()}
    bloom = Bloom(n_bits, k).update(
        np.array([hashes[x] for x in strings[:30]], dtype=np.int64))
    bloom.spark_hashed_input = True
    got = {r["s"]: r["m"] for r in df.select(
        "s", bloom_contains_udf(bloom, spark)("s").alias("m")).collect()}
    assert got.pop(None) is False
    present = [x for x in strings if x is not None]
    want = bloom.contains(np.array([hashes[x] for x in present],
                                   dtype=np.int64))
    assert got == dict(zip(present, want.tolist())), (n_bits, k)
    assert all(got[x] for x in strings[:30])


class _NoJvmSession:
    """A session without a py4j JVM, as Spark Connect's."""


def test_session_without_py4j_jvm_raises():
    sf = dist.ShardedFilter("fuse8", 0, [b""])
    with pytest.raises(RuntimeError, match="no py4j JVM"):
        native.probe_jar(_NoJvmSession())
    with pytest.raises(RuntimeError, match="no py4j JVM"):
        sf.contains_udf(_NoJvmSession())
    with pytest.raises(RuntimeError, match="no py4j JVM"):
        bloom_contains_udf(Bloom(64, 2), _NoJvmSession())


def test_compile_error_raises_with_its_location(spark, tmp_path):
    src = tmp_path / "Broken.java"
    src.write_text("package fastfilter_spark;\n"
                   "public final class Broken { int f() { return; } }\n")
    work = tmp_path / "work"
    work.mkdir()
    with pytest.raises(RuntimeError, match=r"Janino.*Line 2"):
        native._janino(spark.sparkContext, [str(src)],
                       str(work / "out.jar"))


_NO_JAVAC_DRIVER = textwrap.dedent("""
    import json, os, zipfile
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    from fastfilter_spark.functions import native
    from fastfilter_spark.operators import dist, sketch_agg
    jar = native.probe_jar(spark)
    df = spark.range(-500, 500).select(
        (F.col("id") * 2654435761).alias("k"))
    sf, _ = dist.build_sharded(df, "k", kind="fuse8", shard_bits=1)
    bf = sketch_agg.bloom_sketch(df, "k")
    print(json.dumps({
        "jar": jar,
        "classes": sorted(zipfile.ZipFile(jar).namelist()),
        "fuse": df.where(sf.contains_udf(spark)("k")).count(),
        "bloom": df.where(
            sketch_agg.bloom_contains_udf(bf, spark)("k")).count()}))
    spark.stop()
""")


def test_jar_compiles_and_runs_without_javac(tmp_path):
    """A fresh cache and a ``javac`` that fails whenever it runs: a new
    Spark driver still compiles the jar, builds a filter and probes it
    and a Bloom filter."""
    stub = tmp_path / "bin"
    stub.mkdir()
    called = tmp_path / "javac_called"
    javac = stub / "javac"
    javac.write_text(f"#!/bin/sh\ntouch {called}\nexit 127\n")
    javac.chmod(0o755)
    cache = tmp_path / "cache"
    env = dict(os.environ, XDG_CACHE_HOME=str(cache),
               PATH=f"{stub}{os.pathsep}{os.environ.get('PATH', '')}",
               PYTHONPATH=os.pathsep.join(
                   p for p in (_REPO, os.environ.get("PYTHONPATH")) if p))
    res = subprocess.run([sys.executable, "-c", _NO_JAVAC_DRIVER], env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["jar"].startswith(str(cache))
    assert {"fastfilter_spark/FilterBuild.class",
            "fastfilter_spark/FilterProbe.class"} <= set(out["classes"])
    assert out["fuse"] == 1000 and out["bloom"] == 1000
    assert not called.exists()
