"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once at a tiny input size in one Spark session,
untraced and traced, and checks that each run passes its output checks
and emits every metric name with its unit: the common end-to-end
metrics, each workload's own end-to-end metrics, each workload's layer
metrics, and every name BENCHMARK.json lists.  Then checks that the
benchmark refuses to run, with a non-zero exit and no result line, in a
directory that holds only BENCHMARK.json and this directory.  Takes a
few minutes; exits non-zero on the first problem.
"""

import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.05
COMMON = {"setup_s": "s", "op_s": "s", "op_cpu_s": "s", "op_cpu_rel": "ratio",
          "peak_rss_mb": "MB", "error_rate": "ratio"}
EVERY_TRACE = ("native.kernel_tier", "trace.overhead_s",
               "trace.layer_sum_share")


def check_run(art: dict, wl, trace: bool, spec: dict) -> list[str]:
    errs = [f"check failed: {e}" for e in art["errors"]]
    metrics = art.get("metrics", {})
    for name in list(COMMON) + list(wl.METRICS):
        if name not in metrics:
            errs.append(f"end-to-end metric {name} missing")
        elif name in COMMON and metrics[name]["unit"] != COMMON[name]:
            errs.append(f"{name} has unit {metrics[name]['unit']}")
    gated = wl.name in {w["name"] for w in spec["workloads"]}
    if gated:
        for m in spec["end_to_end"]:
            if m["name"] not in metrics:
                errs.append(f"BENCHMARK.json metric {m['name']} missing")
            elif metrics[m["name"]]["unit"] != m["unit"]:
                errs.append(f"{m['name']} unit differs from BENCHMARK.json")
    if trace:
        layer = art.get("per_layer", {})
        for name in wl.LAYERS + EVERY_TRACE:
            if name not in layer:
                errs.append(f"layer metric {name} missing")
        final = run.report(art, True, spec)
        for m in spec["per_layer"] if gated else ():
            if final.get(m["name"], {}).get("unit") != m["unit"] \
                    or workloads.unit_of(m["name"]) != m["unit"]:
                errs.append(f"layer metric {m['name']} unit mismatch")
    return errs


def check_bare_directory() -> list[str]:
    """BENCHMARK.json and perfbench/ alone must not yield a result."""
    bare = os.path.join(HERE, ".run", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for f in os.listdir(HERE):
            if f.endswith((".py", ".md")):
                shutil.copy(os.path.join(HERE, f),
                            os.path.join(bare, "perfbench"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "build-urls",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"correct"' in p.stdout:
        return ["run.py produced a result without the library"]
    return []


def main() -> int:
    spec = run.load_spec()
    errs = check_bare_directory()
    work = os.path.join(HERE, ".run", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run.prepare_env(work)
    spark = run.start_session(work)  # one session for every run here
    try:
        for name, cls in workloads.WORKLOADS.items():
            for trace in (False, True):
                t0 = time.perf_counter()
                art = run.run_workload(spark, name, 1, 0, trace, SCALE, work,
                                       0.0)
                found = check_run(art, cls, trace, spec)
                print(f"{name} trace={int(trace)}: "
                      f"{'ok' if not found else found} "
                      f"({time.perf_counter() - t0:.0f} s)", flush=True)
                errs += found
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
