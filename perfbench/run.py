"""fastfilter_spark benchmark: Spark local[4] driven from one Python process.

    python3 perfbench/run.py --workload build-probe-urls --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all    # BENCHMARK.json's, one by one

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` also times each layer from outside (see
README.md).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; every run also
writes a new artifact under ``perfbench/results/`` (never overwritten;
``perfbench/adopt.py`` promotes one to a baseline).  Exits 1 when an
output check fails and 2 when the library is not next to this
directory.
"""

from __future__ import annotations

import argparse
import datetime
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- process environment -------------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM, the Python workers and the native
    kernel cache write inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too: no perf-data files or
    # temporary files in the system temporary directory
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["XDG_CACHE_HOME"] = os.path.join(HERE, ".run", "cache")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)


def start_session(work: str):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("fastfilter-perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             # a fixed heap makes peak RSS repeat (README.md)
             .config("spark.driver.memory", "1g")
             .config("spark.driver.extraJavaOptions", "-Xms1g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def kernel_tier(spark) -> int:
    """1 if the native C kernel loads on the driver and in every Python
    worker, else 0 (numpy fallback)."""
    from fastfilter_spark.functions import native
    tiers = [int(native.get_kernel() is not None)]

    def probe(batches):
        import pandas as pd
        from fastfilter_spark.functions import native as nat
        for _ in batches:
            yield pd.DataFrame({"tier": [int(nat.get_kernel() is not None)]})

    tiers += [r["tier"] for r in spark.range(CPUS, numPartitions=CPUS)
              .mapInPandas(probe, "tier int").collect()]
    return min(tiers)


# -- measurement helpers -------------------------------------------------------


def _tree_stats(root: int) -> list:
    """/proc stat fields (after the command name) of ``root`` and every
    descendant process."""
    stats: dict = {}
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(name)] = fields + [name]
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        if pid in stats:
            out.append(stats[pid])
    return out


def _work_ticks(pid: int) -> int:
    """CPU ticks of ``pid``'s threads, leaving out JIT compiler threads:
    compiling is JVM warm-up that tails off over a run, not work an op
    does, and it made per-op CPU time drift."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except (OSError, ValueError):
            continue
        if "CompilerThre" not in head:
            fields = tail.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_seconds(root: int | None) -> float:
    """CPU time (user + system) used so far by the calling thread, the
    ``root`` process (the JVM, without its JIT compiler threads) and its
    descendants (the Python workers)."""
    tick = os.sysconf("SC_CLK_TCK")
    own = time.thread_time()  # the calling thread: not the RSS sampler
    if root is None:
        return own
    return own + (_work_ticks(root) + sum(
        int(st[11]) + int(st[12]) for st in _tree_stats(root)
        if int(st[-1]) != root)) / tick


class RssSampler:
    """Peak of the JVM's RSS plus its descendant processes' (the Python
    workers), sampled every 100 ms while running; the process tree is
    re-listed once a second."""

    def __init__(self, pid: int | None):
        self.pid = pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def _run(self):
        page = os.sysconf("SC_PAGE_SIZE")
        pids: list = []
        for i in range(10 ** 9):
            if self._stop.is_set():
                return
            if i % 10 == 0:
                pids = [int(st[-1]) for st in _tree_stats(self.pid)]
            rss = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss += int(f.read().split()[1]) * page
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, rss)
            self._stop.wait(0.1)

    def __enter__(self):
        if self.pid is not None:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def jvm_pid() -> int | None:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


REF_ROWS = 16_000_000


def reference_job(spark) -> None:
    """Fixed work that calls nothing in fastfilter_spark: a
    ``spark.range`` aggregate of ``xxhash64`` over the ids as strings.
    It runs in the JVM only: with a Python side, its own CPU time varied
    about three times as much from call to call."""
    (spark.range(0, REF_ROWS, numPartitions=CPUS)
     .selectExpr("sum(xxhash64(cast(id as string)) % 1000)").collect())


def settle(spark) -> None:
    """Collect the JVM's garbage, so none of what one op or reference
    job leaves behind is collected during the next one's measurement."""
    spark.sparkContext._jvm.java.lang.System.gc()


def timed(fn, pid: int | None):
    """``fn()``'s wall seconds, CPU seconds (see ``cpu_seconds``) and
    result."""
    c0 = cpu_seconds(pid)
    t0 = time.perf_counter()
    r = fn()
    dt = time.perf_counter() - t0
    return dt, cpu_seconds(pid) - c0, r


class Tally:
    """Ops attempted and failed, with the failures' messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def record(self, errs: list) -> bool:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return not errs


def run_ops(wl, spark, seconds: float, tally: Tally, min_ops: int) -> dict:
    """Repeat checked ops for ``seconds`` and at least ``min_ops`` times,
    with the reference job twice before the first op and after every op;
    returns the passing ops' wall and CPU times and results, and the
    reference job's."""
    out: dict = {"times": [], "cpu": [], "results": [], "ref_s": [],
                 "ref_cpu_s": []}
    pid = jvm_pid()

    def reference():
        # two samples at each point: one call's CPU time varies by about
        # 5% after an op
        for _ in range(2):
            settle(spark)
            dt, dc, _ = timed(lambda: reference_job(spark), pid)
            out["ref_s"].append(dt)
            out["ref_cpu_s"].append(dc)

    reference()
    deadline = time.perf_counter() + seconds
    for attempt in itertools.count(1):
        wl.before_op()
        settle(spark)
        try:
            dt, dc, r = timed(wl.op, pid)
            errs = wl.check(r)
        except Exception as e:  # a failed op is counted, not fatal
            traceback.print_exc()
            errs = [f"{type(e).__name__}: {e}"]
        if tally.record(errs):
            out["times"].append(dt)
            out["cpu"].append(dc)
            out["results"].append(r)
        reference()
        if time.perf_counter() >= deadline and attempt >= min_ops:
            return out


# -- one workload --------------------------------------------------------------


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 scale: float, work: str, session_s: float) -> dict:
    """Run one workload on ``spark``, whose start took ``session_s``
    (counted into ``setup_s``); inputs go under ``work``.  Returns the
    artifact dict."""
    import workloads

    work = os.path.join(work, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tally = Tally()
    art: dict = {"workload": name, "seed": seed, "seconds": seconds,
                 "trace": int(trace), "scale": scale, "cpus": CPUS,
                 "started": datetime.datetime.now(datetime.timezone.utc)
                 .isoformat()}
    wl = None
    try:
        wl = workloads.WORKLOADS[name](spark, work, seed, scale)
        t0 = time.perf_counter()
        wl.make_inputs()
        art["inputs_s"] = time.perf_counter() - t0

        phases = art["phases_s"] = {"session": session_s}

        def phase(name, t0):
            phases[name] = time.perf_counter() - t0

        t_setup = t = time.perf_counter()
        tier = kernel_tier(spark)
        phase("kernel_tier", t)
        t = time.perf_counter()
        wl.set_up()
        phase("set_up", t)
        t = time.perf_counter()
        wl.before_op()
        warm = wl.op()
        phase("warm_op", t)
        setup_s = time.perf_counter() - t_setup + session_s
        t = time.perf_counter()
        wl.prepare_checks()
        phase("prepare_checks", t)
        tally.record(wl.check(warm))
        # untimed warm-up: the JIT keeps compiling over the first ops
        for _ in range(wl.WARM_OPS):
            wl.before_op()
            tally.record(wl.check(wl.op()))
        for _ in range(3):
            reference_job(spark)

        with RssSampler(jvm_pid()) as rss:
            ops = run_ops(wl, spark, seconds, tally, min_ops=wl.MIN_OPS)
        if not ops["times"]:
            raise RuntimeError("no op passed its checks")
        op_s = statistics.median(ops["times"])
        op_cpu_s = statistics.median(ops["cpu"])
        ref_s = statistics.median(ops["ref_s"])
        e2e = {"setup_s": (setup_s, "s"), "op_s": (op_s, "s"),
               "op_cpu_s": (op_cpu_s, "s"),
               "op_cpu_rel": (op_cpu_s / statistics.median(ops["ref_cpu_s"]),
                              "ratio"),
               "peak_rss_mb": (rss.peak / 2 ** 20, "MB")}
        e2e.update(wl.metrics(ops["times"], ops["results"]))
        e2e["error_rate"] = (tally.failed / tally.attempted, "ratio")
        art.update({"op_times_s": ops["times"], "op_cpu_s": ops["cpu"],
                    "host_ref": {"wall_s": ops["ref_s"],
                                 "cpu_s": ops["ref_cpu_s"]},
                    "kernel_tier": tier,
                    "metrics": {k: {"value": v, "unit": u}
                                for k, (v, u) in e2e.items()}})
        art["ratio_to_host_ref"] = {
            m: v["value"] / ref_s for m, v in art["metrics"].items()
            if v["unit"] == "s"}

        if trace:
            traced = wl.traced_ops(tally.record)
            traced_s = statistics.median(traced)
            layer = wl.layers(op_s, traced_s)
            layer["native.kernel_tier"] = float(tier)
            layer["trace.overhead_s"] = traced_s - op_s
            art["traced_op_times_s"] = traced
            art["spans"] = [list(s) for s in wl.spans.spans]
            art["prefix_times_s"] = getattr(wl, "prefix", {})
            art["per_layer"] = layer
    except Exception as e:
        traceback.print_exc()
        tally.record([f"{type(e).__name__}: {e}"])
    finally:
        if wl is not None:
            wl.close()
        shutil.rmtree(work, ignore_errors=True)
    art.update(attempted=tally.attempted, failed=tally.failed,
               errors=tally.errors[:50], correct=tally.failed == 0)
    return art


def write_artifact(art: dict) -> str:
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc) \
        .strftime("%Y%m%dT%H%M%S.%fZ")
    path = os.path.join(out, f"{stamp}-{art['workload']}-s{art['seed']}"
                        f"-t{art['trace']}-{os.getpid()}.json")
    with open(path, "x") as f:  # never overwrite an earlier result
        json.dump(art, f, indent=1, sort_keys=True)
    return path


def report(art: dict, trace: bool, spec: dict) -> dict:
    """Print every metric with its unit; return the metrics of the final
    line: the end-to-end metrics of BENCHMARK.json, or with ``trace``
    the per-layer ones (every listed name for a listed workload)."""
    from workloads import unit_of
    print(f"== {art['workload']} seed={art['seed']} "
          f"attempted={art['attempted']} failed={art['failed']}")
    for e in art["errors"][:10]:
        print(f"   CHECK FAILED: {e}")
    metrics = art.get("metrics", {})
    for name, m in metrics.items():
        print(f"   {name} = {m['value']:.6g} {m['unit']}")
    if not trace:
        return {m["name"]: metrics[m["name"]] for m in spec["end_to_end"]
                if m["name"] in metrics}
    layer = art.get("per_layer", {})
    for name, v in layer.items():
        print(f"   {name} = {v:.6g} {unit_of(name)}")
    if art["workload"] not in {w["name"] for w in spec["workloads"]}:
        return {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    # a layer this workload does not run did no work in it: 0
    return {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in spec["per_layer"]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (1 = the documented sizes)")
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fastfilter_spark")):
        print(f"fastfilter_spark not found next to {HERE}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads
    spec = load_spec()
    # all: the workloads BENCHMARK.json lists, which between them run
    # every workload's op
    names = ([w["name"] for w in spec["workloads"]] if a.workload == "all"
             else [a.workload])
    if any(n not in workloads.WORKLOADS for n in names):
        p.error(f"--workload must be one of {list(workloads.WORKLOADS)} "
                "or all")

    work = os.path.join(HERE, ".run", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    prepare_env(work)
    total = {"attempted": 0, "failed": 0}
    metrics: dict = {}
    try:
        for n in names:
            # a new session per workload, so every setup_s pays a cold start
            t0 = time.perf_counter()
            spark = start_session(work)
            try:
                art = run_workload(spark, n, a.seed, a.seconds, bool(a.trace),
                                   a.scale, work, time.perf_counter() - t0)
            finally:
                stop_session(spark)
            print(f"   artifact: {os.path.relpath(write_artifact(art), ROOT)}")
            m = report(art, bool(a.trace), spec)
            total["attempted"] += art["attempted"]
            total["failed"] += art["failed"]
            if len(names) == 1:
                metrics = m
            else:
                metrics.update({f"{n}/{k}": v for k, v in m.items()})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ok = total["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": total["attempted"],
                      "failed": total["failed"], "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
