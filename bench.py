#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "throughput": {...}, "parallelism": N, "n_url_keys": n,
     "host_ref_s": [4 x sec], "scaling": {...}, "suite_artifact": path}

The headline metric mirrors BASELINE.json: binary-fuse8 construction
throughput (keys/sec) over the url-key stream, plus contain-probe q/s,
sketch aggregation, dedup and ANN timings, and a two-parallelism
`scaling` block (north_rule N-vs-4N evidence).  The reference README's
single-thread numbers (27.9M keys/s build, 8.1M q/s) come from faster
hardware; compiled on THIS machine the reference does 5.8-13.4M keys/s
and our kernel is at parity-or-ahead per core (BENCH.md head-to-head),
with sharded construction and Arrow-batched probes multiplying it at
the job level.

Host noise is not gated: the suite and every scaling level time a
fixed-work, JVM-only reference job (scripts/scaling_bench.py
``host_reference_s``) twice before and twice after their timed runs,
so a slower host shows up as a ratio (``build_per_ref`` per level: the
best build over the fastest reference).  A scaling level runs only if
its local[N] fits the CPUs this process may use, and an efficiency
pair is reported only when both of its levels ran.

Run directly: PYTHONPATH=. python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

# repo on the path for the driver AND the executor python workers
# (workers inherit env, not driver sys.path)
_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)


#: the driver keeps only the LAST 2000 chars of bench stdout
#: (BENCH_r03.json: "tail": 2000, parsed: null) — 1900 leaves margin
#: for a trailing newline and capture jitter
LINE_BUDGET = 1900


def fit_line(line_obj: dict, budget: int = LINE_BUDGET) -> dict:
    """Deterministically degrade the summary line until it fits the
    driver's stdout capture — least valuable detail first, each drop
    named in `truncated` — so the round artifact is never an
    unparseable truncation (round 3's only graded failure).  Every
    dropped field still lives in the suite artifact on disk."""
    line_obj = dict(line_obj)
    for drop in ("scaling.levels", "metric.shorten", "queries"):
        if len(json.dumps(line_obj)) <= budget:
            return line_obj
        line_obj.setdefault("truncated", []).append(drop)
        if drop == "scaling.levels":
            line_obj["scaling"] = {
                k: v for k, v in line_obj.get("scaling", {}).items()
                if k != "levels"}
        elif drop == "metric.shorten":
            # derived from the real metric, not a second hardcoded copy
            line_obj["metric"] = str(line_obj.get("metric", ""))[:40]
        elif drop == "queries":
            line_obj["queries"] = dict(
                list(line_obj.get("queries", {}).items())[:5])
    if len(json.dumps(line_obj)) <= budget:
        return line_obj
    # terminal fallback: a minimal-but-parseable line beats a truncated
    # one under every circumstance (the failure mode this exists for)
    keep = ("metric", "value", "unit", "sf", "truncated")
    out = {k: line_obj[k] for k in keep if k in line_obj}
    out.setdefault("truncated", []).append("minimal")
    return out


def write_new_attempt(base: str, record: dict) -> str:
    """Write ``record`` as JSON to the first free ``<stem>_a<N><ext>``
    next to ``base`` and return that path.  Exclusive create: a rerun
    adds an attempt and never overwrites one (the r5 round record was
    lost to a plain ``"w"``).  Promoting an attempt to ``base`` stays a
    deliberate copy, made by hand."""
    stem, ext = os.path.splitext(base)
    n = 1
    while True:
        path = f"{stem}_a{n}{ext}"
        try:
            with open(path, "x") as f:
                json.dump(record, f, indent=1)
            return path
        except FileExistsError:
            n += 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_label = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import SparkSession, functions as F
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("fastfilter-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from scripts import scaling_bench as _sb
    from fastfilter_spark.operators.dist import build_sharded
    from fastfilter_spark.operators.sketch_agg import (
        cms_sketch, hll_count_distinct, kll_quantiles)
    from fastfilter_spark.operators.similarity import brute_force_topk
    from fastfilter_spark.operators.dedup import minhash_dedup_pairs

    timings: dict[str, float] = {}
    throughput: dict[str, float] = {}
    query_runs: dict[str, list] = {}

    def timed(name: str, fn):
        # best-of-3 with every run recorded: the full distribution goes
        # into the suite artifact, so a slow best-of is distinguishable
        # from a slow engine
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn()
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(runs)
        query_runs[name] = runs
        return out

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lineitem.count()  # warm FS cache / JVM

    # warm python workers + native-kernel compile + broadcast machinery
    # before any timed stage (the reference benchmark warms before its
    # timed runs too, /root/reference/benchmarks/bench.c:119-146)
    _wsf, _ = build_sharded(spark.range(100_000).select(
        F.xxhash64(F.col("id")).alias("key")), "key",
        kind="fuse8", shard_bits=2)
    spark.range(100_000).select(F.xxhash64(F.col("id")).alias("key")) \
        .where(_wsf.contains_udf(spark)(F.col("key"))).count()

    # 1. headline: fuse8 construction over a url-key stream (urls
    # generated JVM-side — full html/text synthesis is exercised by the
    # webpages tests; here only the key pipeline is under test)
    n_pages = 20_000_000 if sf_label == "0.1" else 200_000
    wp_keys = spark.range(n_pages).select(
        F.xxhash64(F.concat(F.lit("https://site.example.org/p/"),
                            F.col("id"))).alias("key")).persist()
    n_keys = wp_keys.count()

    def build_urls():
        sfilter, _ = build_sharded(wp_keys, "key", kind="fuse8",
                                   shard_bits=6)
        return sfilter

    # fixed-work host reference, twice before the first timed query and
    # twice after the last: the suite's seconds divided by it compare
    # across hosts and host states (scripts/scaling_bench.py)
    _sb.host_reference_s(spark, cpus)  # untimed warm-up: its codegen and JIT
    host_ref = [_sb.host_reference_s(spark, cpus) for _ in range(2)]
    sfilter = timed("fuse8_build_urls", build_urls)
    throughput["fuse8_build_keys_per_sec"] = round(
        n_keys / timings["fuse8_build_urls"], 1)

    # 2. headline: contain-probe throughput over the same keys
    contains = sfilter.contains_udf(spark)

    def probe():
        return wp_keys.where(contains(F.col("key"))).count()

    n_pass = timed("fuse8_probe_urls", probe)
    throughput["fuse8_probe_keys_per_sec"] = round(
        n_keys / timings["fuse8_probe_urls"], 1)
    assert n_pass == n_keys, "false negatives detected"

    # 2b. the driver-free probe path (probe_via_join over the filter
    # TABLE — the TB-scale route where no executor holds the whole
    # filter); table persisted so the timed runs measure the cogroup
    # probe, not a rebuild
    from fastfilter_spark.operators.dist import (
        build_sharded_table, probe_via_join)
    ftable = build_sharded_table(wp_keys, "key", kind="fuse8",
                                 shard_bits=6).persist()
    ftable.count()

    def probe_join():
        return probe_via_join(wp_keys, "key", ftable, num_shards=64) \
            .where(F.col("member")).count()

    n_pass_j = timed("fuse8_probe_via_join", probe_join)
    throughput["fuse8_probe_join_keys_per_sec"] = round(
        n_keys / timings["fuse8_probe_via_join"], 1)
    assert n_pass_j == n_keys, "false negatives via join probe"
    ftable.unpersist()
    wp_keys.unpersist()

    # 3. filter build over parquet keys (scan -> shuffle -> build)
    timed("fuse8_build_lineitem",
          lambda: build_sharded(lineitem, "l_orderkey", kind="fuse8",
                                shard_bits=2))
    timed("xor8_build_lineitem",
          lambda: build_sharded(lineitem, "l_orderkey", kind="xor8",
                                shard_bits=2))

    # 4. sketches
    timed("hll_distinct", lambda: hll_count_distinct(lineitem, "l_orderkey"))
    timed("kll_quantiles",
          lambda: kll_quantiles(lineitem, "l_extendedprice", [0.1, 0.5, 0.9]))
    timed("cms_sketch", lambda: cms_sketch(lineitem, "l_suppkey"))
    from fastfilter_spark.operators.kmv import kmv_distinct
    from fastfilter_spark.operators.moments import ams_f2
    from fastfilter_spark.operators.sampling import priority_sample
    timed("kmv_distinct",
          lambda: kmv_distinct(lineitem, "l_orderkey", k=4096).collect())
    timed("ams_f2",
          lambda: ams_f2(lineitem, "l_suppkey", width=256,
                         depth=5).collect())
    timed("priority_sample",
          lambda: priority_sample(
              lineitem.select("l_orderkey", "l_quantity"),
              "l_orderkey", "l_quantity", k=1024).count())

    # 5. dedup over documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    timed("minhash_dedup",
          lambda: minhash_dedup_pairs(docs, threshold=0.8,
                                      n_hashes=64).count())

    # 5b. round-4 pipeline operators (documents/orders inputs)
    from fastfilter_spark.operators.asof import asof_join
    from fastfilter_spark.operators.layout import zorder_key
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purch = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id"))
    clicks = (ev.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts").alias("rt"),
                      F.col("event_id").alias("cid")))
    timed("asof_join",
          lambda: asof_join(purch, clicks, "user_id", "ts", "rt",
                            right_cols=["cid"]).count())
    orders_df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    timed("zorder_key",
          lambda: zorder_key(
              orders_df.select("o_custkey", "o_orderkey"),
              ["o_custkey", "o_orderkey"], bits=8)
          .agg(F.max("zkey")).collect())

    # 5c. pipeline operators that previously had correctness oracles
    # but NO suite timing (regressions there were invisible): timed
    # through the SAME registered queries the correctness driver runs,
    # so the measured plan is exactly the audited one.
    import __spark_entry__ as _entry
    _qreg = _entry.queries()
    for _qname in ("bm25_topk", "link_pagerank", "corpus_funnel"):
        timed(_qname,
              lambda qn=_qname: _qreg[qn](spark, sf_dir).collect())

    # 6. ANN over embeddings
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = list(emb.limit(1).collect()[0]["embedding"])
    timed("ann_topk", lambda: brute_force_topk(emb, qvec, k=10).collect())

    # 7. relational demo
    timed("pricing_summary",
          lambda: lineitem.groupBy("l_returnflag", "l_linestatus")
          .agg(F.count("*").alias("n"),
               F.sum(F.col("l_quantity").cast("long")).alias("q")).collect())

    host_ref += [_sb.host_reference_s(spark, cpus) for _ in range(2)]
    host_ref = [round(t, 3) for t in host_ref]
    total = round(sum(timings.values()), 3)
    spark.stop()
    # stop() leaves the gateway JVM and its heap alive (2.6 GB after an
    # sf0.01 suite); closing its stdin ends it, so the scaling levels
    # below do not share the host's memory with it
    from pyspark import SparkContext
    SparkContext._gateway.proc.stdin.close()
    SparkContext._gateway.proc.wait()

    # -- two-parallelism scaling evidence (north_rule: N vs 4N executors)
    # The sandbox has no real cluster, so the same job (sharded fuse8
    # build + probe over identical url keys) runs at local[2], local[8]
    # and local[32] in fresh JVMs via scripts/scaling_bench.py, each
    # level only if it fits the CPUs this process may use: a level
    # above them measures oversubscription, not scaling.  The
    # N->4N pair for the rule is 2->8 (compute-scaling regime).  8->32
    # on this single-JVM VM is bounded by shuffle/Arrow/scheduling
    # overhead, NOT DRAM bandwidth (the round-3 dram_ceiling sweep
    # measured the kernel at 0.77 efficiency using ~36 of ~209 GB/s;
    # see BENCH.md) — a real 4N cluster scales those components out.
    # Reported honestly alongside.  Skippable with
    # SPARK_GRAFT_SKIP_SCALING=1 for quick iteration.
    scaling: dict = {}
    if not os.environ.get("SPARK_GRAFT_SKIP_SCALING"):
        import subprocess
        levels = {}
        for c in (2, 8, 32):
            if c > len(os.sched_getaffinity(0)):
                continue
            out = subprocess.run(
                [sys.executable, _sb.__file__, "--level", str(c)],
                capture_output=True, text=True,
                env=dict(os.environ, PYTHONPATH=_REPO), cwd=_REPO)
            lines = [ln for ln in out.stdout.splitlines()
                     if ln.startswith("{")]
            if lines:
                levels[c] = json.loads(lines[-1])
            else:
                print(f"bench: scaling level {c} failed\n"
                      f"{out.stderr[-2000:]}", file=sys.stderr)

        def eff(metric, lo, hi):
            return round((levels[hi][metric] / levels[lo][metric])
                         / (hi / lo), 3)

        if levels:
            scaling = {
                "job": "sharded fuse8 build+probe, "
                       f"{next(iter(levels.values()))['n_keys']} url keys",
                "north_rule_pair": "local[2] -> local[8] (N -> 4N)",
                "levels": {str(c): levels[c] for c in levels},
            }
            for c in levels:
                scaling[f"local{c}_build_keys_per_sec"] = \
                    levels[c]["build_keys_per_sec"]
                scaling[f"local{c}_probe_keys_per_sec"] = \
                    levels[c]["probe_keys_per_sec"]
            for lo, hi in ((2, 8), (8, 32)):
                if lo in levels and hi in levels:
                    scaling[f"build_efficiency_{lo}_to_{hi}"] = \
                        eff("build_keys_per_sec", lo, hi)
                    scaling[f"probe_efficiency_{lo}_to_{hi}"] = \
                        eff("probe_keys_per_sec", lo, hi)

    # ---- artifact split (round-3 failure: the single emitted JSON
    # line, carrying per-run distributions, outgrew the 2000-char stdout
    # tail BENCH_r03.json captured, which recorded parsed: null).  The
    # FULL record — query_runs, host-reference times, level run lists —
    # goes to bench_artifacts/; the printed line is a compact summary.
    full = {
        "metric": "fuse8 construction+probe over url keys (headline) "
                  "+ operator suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_runs": query_runs,
        "host_ref_s": host_ref,
        "sf": float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label,
        "throughput": throughput,
        "parallelism": cpus,
        "n_url_keys": n_keys,
        "scaling": scaling,
    }
    # off-sf smoke runs get their own file: a quick sf0.001 iteration
    # must not clobber the committed round record (it did once).  The
    # round number is CURRENT round = newest driver BENCH_r{N}.json + 1
    # (a hardcoded name clobbered the committed r4 record once too).
    import glob
    import re as _re
    _rn = 1 + max(
        (int(_re.search(r"BENCH_r(\d+)\.json$", p).group(1))
         for p in glob.glob(os.path.join(_REPO, "BENCH_r*.json"))
         if _re.search(r"BENCH_r(\d+)\.json$", p)), default=0)
    _suite_name = (f"suite_r{_rn}.json" if sf_label in ("0.1", "")
                   else f"suite_r{_rn}_sf{sf_label}.json")
    suite_out = os.environ.get(
        "SPARK_GRAFT_SUITE_OUT",
        os.path.join(_REPO, "bench_artifacts", _suite_name))
    try:
        os.makedirs(os.path.dirname(suite_out), exist_ok=True)
        suite_ref = os.path.relpath(write_new_attempt(suite_out, full),
                                    _REPO)
    except OSError as e:  # read-only checkout: keep the line parseable
        suite_ref = f"unwritable ({e})"

    compact_scaling: dict = {}
    if scaling:
        compact_scaling = {
            k: v for k, v in scaling.items()
            if k not in ("levels", "job")
            # the per-level rates live in levels[..] — the flat
            # localN_*_keys_per_sec duplicates cost ~200 chars of the
            # 2000-char budget
            and not k.endswith("_keys_per_sec")}
        # derive the short form from the real value (no second
        # hardcoded copy): "local[2] -> local[8] (N -> 4N)" ->
        # "2 -> 8 (N -> 4N)"
        compact_scaling["north_rule_pair"] = (
            str(compact_scaling["north_rule_pair"])
            .replace("local[", "").replace("]", ""))
        compact_scaling["levels"] = {
            c: {k: lv[k] for k in
                ("build_s", "build_keys_per_sec", "probe_s",
                 "probe_keys_per_sec", "host_ref_s", "build_per_ref")}
            for c, lv in scaling["levels"].items()}

    line_obj = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": full["sf"],
        "throughput": throughput,
        "parallelism": cpus,
        "n_url_keys": n_keys,
        "host_ref_s": host_ref,
        "scaling": compact_scaling,
        "suite_artifact": suite_ref,
    }
    print(json.dumps(fit_line(line_obj)))


if __name__ == "__main__":
    main()
