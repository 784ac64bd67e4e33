#!/usr/bin/env python
"""One scaling level (north_rule evidence).

The rule's two-cluster-size criterion (N vs 4N executors, efficiency
>= 0.8) cannot use a real cluster on one host; it is evidenced by
running the SAME job at local[2], local[8] and local[32] on the SAME
input.  bench.py drives the levels,
one fresh JVM each; scripts/cluster_bench.py runs the same measurement
(``measure_build_probe``) on a standalone cluster.

Job: sharded binary-fuse8 construction over 40M url keys
(xxhash64 of synthetic urls, JVM-generated => the measured time is the
engine: shuffle + Arrow + per-shard native kernel), plus the probe pass.

Host noise is neither gated nor waited out.  Each level times a
fixed-work, JVM-only reference job (``host_reference_s``) twice before
and twice after its timed runs and reports ``build_per_ref``: the best
build over the fastest reference time (the first timed pair still
carries codegen/JIT warm-up, so best over best).  A slower host moves
both, so the ratio stays comparable where the raw seconds are not.

Usage:
    python scripts/scaling_bench.py --level 8  # one level, prints JSON
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# make `python scripts/scaling_bench.py --level N` work without PYTHONPATH,
# both driver-side (sys.path) and in the spawned executor python workers
# (they inherit the env, not the driver's sys.path)
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)

# 40M keys: large enough that fixed engine costs (stage scheduling, JVM
# codegen, python-worker spin-up) amortize — at 8M keys they dominate
# and the measured "efficiency" is mostly Amdahl overhead, not the
# engine's scaling
N_KEYS = 40_000_000
SHARD_BITS = 6
# AQE advisory partition size for the shuffle-read side of the build.
# At cluster scale a 64-shard-of-40M-keys shuffle is GBs per shard and
# the default 64 MB advisory never merges shards; at this bench's input
# size each shard's shuffle blocks are ~7 MB, so the default coalesces
# ~6 shards into one fat task and the level-8 build ends in a 2-core
# straggler tail (~23% of wall, measured with a 100 ms utilization
# timeline).  An advisory below shard size keeps one task per shard —
# the SAME task granularity a real deployment has.
ADVISORY = "4m"
# Each level's process tree is pinned to exactly `cpus` CPUs when the
# host has more (run_level calls sched_setaffinity before the JVM
# starts, so every JVM/python descendant inherits it).  local[N] caps
# concurrent TASKS, not CPUs: GC, shuffle-netty and python workers run
# beside the N task slots, and a 100 ms utilization timeline showed an
# unpinned local[2] consuming 2.6 cores — inflating the small-N
# baseline and understating true scaling.  A real N-core executor is
# cgroup-bound to N CPUs (YARN/K8s cpuset); pinning reproduces that
# resource boundary.
_NCPU = os.cpu_count() or 1
# JVM heap: 16g, capped at a quarter of the host's RAM.  local[32] runs
# 32 python workers (~0.12 GB each) beside the JVM; on a 4-CPU, 16 GB
# host an uncapped 16g heap grew to 9.6 GB and the kernel OOM-killed it.
_RAM_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
DRIVER_MEMORY = f"{max(1, min(16, int(_RAM_GB / 4)))}g"
REF_ROWS = 16_000_000


def runs_for(cpus: int) -> int:
    """Timed builds per level: more at the cheap high-parallelism
    levels (a run is ~6 s at local[8] vs ~24 s at local[2] on 40M keys),
    where best-of over more runs costs almost nothing."""
    return 4 if cpus <= 2 else 8


def host_reference_s(spark, partitions: int) -> float:
    """Wall seconds of one fixed-work reference job: a ``spark.range``
    aggregate of ``xxhash64`` over the ids as strings, the same job
    perfbench divides by.  It runs in the JVM only and calls nothing in
    fastfilter_spark, so no library change can move it; only the host
    can."""
    t0 = time.perf_counter()
    (spark.range(0, REF_ROWS, numPartitions=partitions)
     .selectExpr("sum(xxhash64(cast(id as string)) % 1000)").collect())
    return time.perf_counter() - t0


def measure_build_probe(spark, runs: int) -> dict:
    """The scaling job on ``spark``: best-of-``runs`` sharded fuse8 build
    and best-of-3 probe over N_KEYS url keys, after a full-scale warm-up,
    bracketed by two host-reference runs on each side."""
    from pyspark.sql import functions as F
    from fastfilter_spark.operators.dist import build_sharded

    keys = spark.range(N_KEYS).select(
        F.xxhash64(F.concat(F.lit("https://site.example.org/p/"),
                            F.col("id"))).alias("key")).persist()
    n = keys.count()

    # Full-scale warm-up run before timing: spawns/reuses all python
    # workers, compiles/loads the native kernel, touches the broadcast and
    # JIT paths.  The reference C benchmark (benchmarks/bench.c) also
    # warms up before its timed runs.
    sf_w, _ = build_sharded(keys, "key", kind="fuse8", shard_bits=SHARD_BITS)
    keys.where(sf_w.contains_udf(spark)(F.col("key"))).count()

    partitions = spark.sparkContext.defaultParallelism
    host_reference_s(spark, partitions)  # untimed warm-up: its codegen and JIT
    host_ref = [host_reference_s(spark, partitions) for _ in range(2)]
    build_runs: list[float] = []
    for _ in range(runs):
        t0 = time.perf_counter()
        sf, _ = build_sharded(keys, "key", kind="fuse8",
                              shard_bits=SHARD_BITS)
        build_runs.append(time.perf_counter() - t0)
    # ONE probe udf, warmed once then timed: a fresh udf per iteration
    # would re-broadcast the payloads and re-deserialize all shards in
    # every worker, timing one-off setup instead of steady-state probes
    contains = sf.contains_udf(spark)
    assert keys.where(contains(F.col("key"))).count() == n  # warm + check
    probe_runs: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        n_pass = keys.where(contains(F.col("key"))).count()
        probe_runs.append(time.perf_counter() - t0)
        assert n_pass == n, "false negatives detected"
    host_ref += [host_reference_s(spark, partitions) for _ in range(2)]

    build_s, probe_s = min(build_runs), min(probe_runs)
    host_ref = [round(t, 3) for t in host_ref]
    return {
        "n_keys": n,
        "build_s": round(build_s, 3),
        "build_keys_per_sec": round(n / build_s, 1),
        "probe_s": round(probe_s, 3),
        "probe_keys_per_sec": round(n / probe_s, 1),
        "build_runs_s": [round(t, 3) for t in build_runs],
        "probe_runs_s": [round(t, 3) for t in probe_runs],
        "host_ref_s": host_ref,
        # from the reported values, so the ratio can be checked from them
        "build_per_ref": round(round(build_s, 3) / min(host_ref), 3),
    }


def run_level(cpus: int) -> dict:
    pinned = cpus < _NCPU
    if pinned:
        # before the JVM starts: every descendant inherits the mask
        os.sched_setaffinity(0, set(range(cpus)))
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"scaling-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 1 << SHARD_BITS)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", ADVISORY)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        m = measure_build_probe(spark, runs_for(cpus))
    finally:
        spark.stop()
    return {"cpus": cpus, "pinned": pinned, "advisory": ADVISORY, **m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--level", type=int, required=True)
    args = ap.parse_args()
    print(json.dumps(run_level(args.level)))


if __name__ == "__main__":
    main()
