#!/usr/bin/env python
"""REAL multi-executor scaling evidence: a standalone Spark cluster on
this host — one Master JVM + N Worker JVMs (each pinned to its own
disjoint CPU set), the job submitted over spark:// with --py-files —
run at two cluster sizes on the SAME input.

This is the north_rule's literal deployment shape
(BASELINE.json: "run via spark-submit --py-files on a multi-executor
cluster at two cluster sizes (N and 4N executors)"), one step closer
than the sanctioned local[N] substitute in scaling_bench.py:

- every executor is its OWN JVM with its own python workers (local[N]
  shares one JVM, one GC, one shuffle manager across all "executors");
- the build's shuffle crosses PROCESS boundaries through netty
  block transfers, serialized exactly as on a distributed cluster
  (local[N] shuffles through in-process memory);
- each worker JVM is cpuset-pinned to its own CPUs, reproducing the
  per-executor resource boundary of YARN/K8s; master and driver stay
  off the worker CPUs, like a driver node.

What stays host-local — and why the measured efficiency is a LOWER
BOUND on a real cluster's: the wire is loopback and every executor
shares ONE memory subsystem.  The per-shard kernel scales 0.77 at
8->32 procs (BENCH.md dram_ceiling sweep), but the end-to-end job's
shuffle+Arrow path moves ~10x the kernel's bytes per key, so adding
executors on one box raises per-core memory pressure that a real 4N
cluster pays with 4x the DRAM buses and NICs.  Measured here (calm
windows, steal 0.0): 2->8 executors x2 cores = 0.45 at 40M keys,
0.61 at 160M keys; the amortization trend is the point — per-executor
work at 40M/8 executors is ~0.6 s of kernel time against fixed JVM
overheads.  The north-rule pair recorded in BENCH_r*.json stays the
pinned local[N] 2->8 (symmetric in-process shuffle, both sides below
the single-host memory-contention knee).

Usage:
    python scripts/cluster_bench.py                # pair (default 2,8)
    python scripts/cluster_bench.py --executors 8  # one size, JSON line

The job, its 40M url keys and its host-reference bracket are
scaling_bench.measure_build_probe, shared with the local[N] levels.

Env: CLUSTER_RUNS (default 3), CLUSTER_CORES_PER_EXEC (default 2),
CLUSTER_SIZES (default "2,8").
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import socket
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)

import scaling_bench as _sb  # noqa: E402  (sibling: the shared measurement)

RUNS = int(os.environ.get("CLUSTER_RUNS", 3))
# multi-core executors are the realistic shape (a 1-core executor
# serializes each task's JVM shuffle work against its python kernel on
# one CPU — measured ~75% slower than local[8] at the same core count
# — and is a config nobody deploys).  2 cores keeps the 4N side at 16
# CPUs, half the machine, away from the whole-box contention knee.
CORES_PER_EXEC = int(os.environ.get("CLUSTER_CORES_PER_EXEC", 2))
def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# a DYNAMIC free port by default: binding a fixed 7077 would silently
# attach this run to a stale master left by a SIGKILLed previous run
# (its workers, its pinning) and record numbers from the wrong topology
MASTER_PORT = (int(os.environ["CLUSTER_MASTER_PORT"])
               if "CLUSTER_MASTER_PORT" in os.environ else _free_port())
_NCPU = os.cpu_count() or 1


def _spark_class() -> str:
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-class")


def _wait_port(port: int, timeout: float = 60.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        with socket.socket() as s:
            s.settimeout(1)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.5)
    raise TimeoutError(f"port {port} never opened")


class Cluster:
    """A throwaway standalone cluster: 1 master + n_workers workers of
    cores_per_worker cores, each worker pinned to its own disjoint CPU
    set (executor JVM + its python workers inherit the mask).  Master
    and driver stay off the worker CPUs so they never compete with
    executors — mirroring a real cluster where the driver is its own
    node."""

    def __init__(self, n_workers: int, work_dir: str,
                 cores_per_worker: int = 1):
        self.n_workers = n_workers
        self.cores = cores_per_worker
        self.work_dir = work_dir
        self.procs: list[subprocess.Popen] = []

    def __enter__(self):
        total = self.n_workers * self.cores
        if total > _NCPU:
            raise ValueError(
                f"{self.n_workers} workers x {self.cores} cores = {total} "
                f"CPUs > {_NCPU} available — the per-worker cpusets would "
                "overlap and the 'pinned disjoint executors' claim would "
                "be false; use fewer/smaller workers")
        os.makedirs(self.work_dir, exist_ok=True)
        env = dict(os.environ,
                   SPARK_MASTER_HOST="127.0.0.1",
                   SPARK_NO_DAEMONIZE="1",
                   SPARK_LOG_DIR=self.work_dir,
                   SPARK_WORKER_DIR=self.work_dir,
                   SPARK_LOCAL_IP="127.0.0.1")
        # the zip shipped via spark.submit.pyFiles must be the ONLY way
        # executors can import the package: a PYTHONPATH pointing at the
        # repo (set at this module's import for the DRIVER side) would
        # silently mask a broken zip and certify a --py-files deployment
        # that was never exercised
        env.pop("PYTHONPATH", None)
        sc = _spark_class()
        # master and driver live on the CPUs ABOVE the worker range (the
        # docstring's driver-node claim is enforced, not aspirational):
        # driver work during a timed build (scheduling, payload collect)
        # scheduled onto worker CPUs would deflate measured efficiency
        total = self.n_workers * self.cores
        self.off_worker_cpus = (set(range(total, _NCPU))
                                if total < _NCPU else None)
        if self.off_worker_cpus:
            os.sched_setaffinity(0, self.off_worker_cpus)  # driver

        def pin_master():
            if self.off_worker_cpus:
                os.sched_setaffinity(0, self.off_worker_cpus)

        log = open(os.path.join(self.work_dir, "master.log"), "w")
        self.procs.append(subprocess.Popen(
            [sc, "org.apache.spark.deploy.master.Master",
             "-h", "127.0.0.1", "-p", str(MASTER_PORT),
             "--webui-port", "0"],
            env=env, stdout=log, stderr=subprocess.STDOUT,
            preexec_fn=pin_master))
        _wait_port(MASTER_PORT)
        for i in range(self.n_workers):
            wlog = open(os.path.join(self.work_dir, f"worker{i}.log"), "w")
            cpus = {i * self.cores + j for j in range(self.cores)}

            def pin(cs=cpus):
                os.sched_setaffinity(0, cs)

            self.procs.append(subprocess.Popen(
                [sc, "org.apache.spark.deploy.worker.Worker",
                 f"spark://127.0.0.1:{MASTER_PORT}",
                 "--cores", str(self.cores),
                 "--memory", f"{2 + 2 * self.cores}g",
                 "--webui-port", "0"],
                env=env, stdout=wlog, stderr=subprocess.STDOUT,
                preexec_fn=pin))
        return self

    def __exit__(self, *exc):
        for p in reversed(self.procs):
            p.terminate()
        for p in self.procs:
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                p.kill()
        shutil.rmtree(self.work_dir, ignore_errors=True)
        return False


def _py_files() -> str:
    zpath = os.path.join("/tmp", "fastfilter_spark_cluster.zip")
    if os.path.exists(zpath):
        os.remove(zpath)
    subprocess.run(["zip", "-qr", zpath, "fastfilter_spark"],
                   cwd=_REPO, check=True)
    return zpath


def run_size(n_execs: int) -> dict:
    """Bring up a cluster of n_execs CORES_PER_EXEC-core executors,
    run scaling_bench's build + probe measurement on it, tear down,
    return the size's dict."""
    work_dir = f"/tmp/ff_cluster_{n_execs}"
    zpath = _py_files()
    with Cluster(n_execs, work_dir, CORES_PER_EXEC):
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder
            .master(f"spark://127.0.0.1:{MASTER_PORT}")
            .appName(f"cluster-bench-{n_execs}")
            .config("spark.executor.cores", str(CORES_PER_EXEC))
            .config("spark.executor.memory", f"{1 + 2 * CORES_PER_EXEC}g")
            .config("spark.cores.max", str(n_execs * CORES_PER_EXEC))
            .config("spark.submit.pyFiles", zpath)
            .config("spark.sql.shuffle.partitions",
                    str(max(n_execs, 1 << _sb.SHARD_BITS)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                    _sb.ADVISORY)
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
            .config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.driver.memory", "8g")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        try:
            # wait until every executor registered (a build scheduled on
            # a partial cluster measures ramp-up, not scaling)
            t0 = time.time()
            n_up = 0
            while time.time() - t0 < 90:
                n_up = spark.sparkContext._jsc.sc() \
                    .getExecutorMemoryStatus().size() - 1  # minus driver
                if n_up >= n_execs:
                    break
                time.sleep(1)
            else:
                raise TimeoutError(
                    f"only {n_up}/{n_execs} executors registered")
            m = _sb.measure_build_probe(spark, RUNS)
        finally:
            spark.stop()

    return {
        "executors": n_execs, "cores_per_executor": CORES_PER_EXEC,
        "deploy": f"standalone master + pinned {CORES_PER_EXEC}-core "
                  "worker JVMs, submitted over spark:// with --py-files",
        **m,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--executors", type=int, default=None)
    args = ap.parse_args()
    if args.executors:
        print(json.dumps(run_size(args.executors)))
        return

    sizes = [int(x) for x in
             os.environ.get("CLUSTER_SIZES", "2,8").split(",")]
    results = {}
    for n_execs in sizes:
        # fresh subprocess per size: a clean JVM/python for each cluster
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--executors", str(n_execs)],
            capture_output=True, text=True,
            env=dict(os.environ, PYTHONPATH=_REPO), cwd=_REPO)
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            print(out.stdout[-3000:], out.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"cluster size {n_execs} failed")
        results[n_execs] = json.loads(lines[-1])
        print(json.dumps(results[n_execs]))

    lo, hi = sizes[0], sizes[-1]
    if hi == 4 * lo:
        eff = (results[hi]["build_keys_per_sec"]
               / results[lo]["build_keys_per_sec"]) / (hi / lo)
        peff = (results[hi]["probe_keys_per_sec"]
                / results[lo]["probe_keys_per_sec"]) / (hi / lo)
        print(json.dumps({"pair": f"{lo}->{hi} executors",
                          "build_efficiency": round(eff, 3),
                          "probe_efficiency": round(peff, 3)}))


if __name__ == "__main__":
    main()
