"""The benchmark workloads.

Each workload makes its inputs from the seed (untimed), sets up (timed
into ``setup_s``), then repeats one operation (``op``) whose result is
checked after every call.  ``trace`` times the layers from outside:
lazy layers by running successive plan prefixes into Spark's ``noop``
sink (a layer's self time is the difference between two prefixes),
eager calls by wrapping them in spans.  Sizes are the full-scale sizes
divided by ``SCALE_DIVISOR`` (see README.md).
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from fastfilter_spark.functions import kernels as K
from fastfilter_spark.functions.sketches import CountMin
from fastfilter_spark.operators import dist, kmv, sampling, sketch_agg
from fastfilter_spark.operators.local import build_filter, filter_from_bytes
from fastfilter_spark.sources.webpages import url_keys
from fastfilter_spark.streaming.incremental import IncrementalFilterMaintainer
from fastfilter_spark.streaming.probe import StreamingFilterProbe

SCALE_DIVISOR = 32
# probe-urls keeps a larger filter (3M keys, about 3.4 MB) so that it
# still exceeds a 2 MB per-core L2, as the full-size filter does
FILTER_DIVISOR = 4
FUSE8_FPP = 2.0 ** -8


def fpp_too_high(passes: int, novel: int) -> bool:
    """More novel keys pass than twice fuse8's 2^-8, with a small
    additive slack so tiny inputs do not fail by chance."""
    return passes > 2 * FUSE8_FPP * novel + 10


def _n(full: int, scale: float, divisor: int = SCALE_DIVISOR) -> int:
    return max(64, int(full / divisor * scale))


def shard_target(scale: float, divisor: int = SCALE_DIVISOR) -> int:
    """The library's shard target (2^22 keys), scaled with the inputs so
    the sizing pass picks the shard count (4) it picks at full size."""
    return max(256, int((1 << 22) / divisor * scale))


def noop(df) -> None:
    """Materialise ``df`` without a result transfer."""
    df.write.format("noop").mode("overwrite").save()


def median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def rate(n: int, fn, reps: int = 3) -> float:
    return n / median_time(fn, reps)


def digest(payloads) -> str:
    h = hashlib.sha256()
    for p in payloads:
        h.update(bytes(p))
    return h.hexdigest()


def seed_position(seed: int) -> int:
    """1-based position of a fuse build's winning seed in the splitmix
    chain (1 = first seed peeled)."""
    want = seed & K.MASK64
    state = K.FUSE_RNG_START
    for i in range(1, K.XOR_MAX_ITERATIONS + 1):
        state, s = K.splitmix64(state)
        if s == want:
            return i
    return -1


_RATIOS = {"dist.kernel_share", "dist.dedup_ratio", "trace.layer_sum_share",
           "incremental.rebuild_amplification"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name in _RATIOS:
        return "ratio"
    if name == "native.kernel_tier":
        return "tier"
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_bytes", "B"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ms" if "_ms_" in name else "count"


class Spans:
    """In-memory spans recorded around calls the benchmark makes into
    the layers; ``on`` is false for untraced ops, where ``step`` only
    forwards the call."""

    def __init__(self):
        self.on = False
        self.spans: list[tuple[str, float, float]] = []

    def step(self, name: str, fn):
        if not self.on:
            return fn()
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def totals(self) -> dict:
        out: dict = {}
        for name, t0, t1 in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0)
        return out


class Workload:
    name = ""
    MIN_OPS = 3  # timed ops per run, however short ``--seconds`` is
    WARM_OPS = 2  # untimed ops between set-up and the timed ops

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.spans = Spans()
        self.ref_digest = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name))

    # -- lifecycle (overridden) -------------------------------------------

    def make_inputs(self) -> None:
        raise NotImplementedError

    def set_up(self) -> None:
        """Workload set-up that counts into ``setup_s``."""

    def prepare_checks(self) -> None:
        """Untimed driver-side truth for the output checks."""

    def before_op(self) -> None:
        """Untimed per-op preparation."""

    @contextlib.contextmanager
    def instrument(self):
        """Span wrappers installed around traced ops only."""
        yield

    def close(self) -> None:
        """Undo what the workload changed outside its work directory."""

    def op(self):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def metrics(self, op_times: list[float], results: list) -> dict:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        raise NotImplementedError


    def traced_ops(self, record, n: int = 3) -> list[float]:
        """Run ``n`` ops with spans on and the wrappers of ``instrument``
        installed, passing each op's check errors to ``record``; returns
        their times."""
        times = []
        self.spans.on = True
        try:
            with self.instrument():
                for _ in range(n):
                    self.before_op()
                    t0 = time.perf_counter()
                    r = self.op()
                    times.append(time.perf_counter() - t0)
                    record(self.check(r))
        finally:
            self.spans.on = False
        return times

    def prefix_rounds(self, stages: dict, record, n: int) -> list[float]:
        """Interleave the plan prefixes in ``stages`` with the op, ``n``
        rounds, so drift hits every prefix alike; records each prefix's
        times in ``self.prefix`` (Spark job group = prefix name)."""
        sc = self.spark.sparkContext
        self.prefix = {name: [] for name in stages}
        times = []
        for _ in range(n):
            for name, fn in stages.items():
                sc.setJobGroup(name, name)
                t0 = time.perf_counter()
                fn()
                self.prefix[name].append(time.perf_counter() - t0)
            sc.setJobGroup("op", "op")
            t0 = time.perf_counter()
            r = self.op()
            times.append(time.perf_counter() - t0)
            record(self.check(r))
        return times

    def p(self, name: str) -> float:
        return statistics.median(self.prefix[name])

    def layers(self, untraced_op_s: float, traced_op_s: float) -> dict:
        """Per-layer metrics of the traced run: name -> value."""
        raise NotImplementedError

    def _same_bytes(self, payloads) -> list[str]:
        d = digest(payloads)
        if self.ref_digest is None:
            self.ref_digest = d
        return [] if d == self.ref_digest else [
            "filter payload bytes differ from the first op of this run"]


# -- build-urls ----------------------------------------------------------------


class BuildUrls(Workload):
    name = "build-urls"
    METRICS = ("build_keys_per_s", "bits_per_key", "fpp")
    LAYERS = ("sources.url_keys_s", "dist.shard_sizing_s",
              "dist.keys_with_shard_s", "dist.handoff_s",
              "dist.build_table_s", "dist.collect_s", "dist.shards",
              "dist.build_tasks", "dist.kernel_ms_sum", "dist.kernel_ms_max",
              "dist.kernel_share", "dist.dedup_ratio", "dist.filter_bytes",
              "local.unique_keys_per_s", "local.build_filter_keys_per_s",
              "local.to_bytes_s", "local.seed_attempts")

    def __init__(self, *args):
        super().__init__(*args)
        self.captured: list = []
        self._orig = dist.ShardedFilter.__dict__["from_filter_table"]
        orig = self._orig.__func__
        captured = self.captured

        def capture(cls, rows):
            rows = list(rows)
            captured.append(rows)
            return orig(cls, rows)
        # keeps the lineage rows build_sharded collects anyway, so the
        # checks need no second execution of the build plan
        dist.ShardedFilter.from_filter_table = classmethod(capture)

    def close(self):
        dist.ShardedFilter.from_filter_table = self._orig

    def make_inputs(self):
        rng = np.random.default_rng(self.seed)
        self.n_distinct = _n(12_000_000, self.scale)
        both = inputs.distinct_ids(rng, 2 * self.n_distinct)
        ids, novel = both[:self.n_distinct], both[self.n_distinct:]
        rows = inputs.with_duplicates(rng, ids, 0.25)
        self.n_rows = rows.size
        inputs.write(self.path("pages"), {"url": inputs.urls(rows)})
        inputs.write(self.path("members"), {"url": inputs.urls(ids)})
        inputs.write(self.path("novel"), {"url": inputs.urls(novel)})
        self.target = shard_target(self.scale)

    def pages_keys(self):
        return url_keys(self.read("pages"))

    def op(self):
        self.captured.clear()
        sf, _ = dist.build_sharded(self.pages_keys(), "key", kind="fuse8",
                                   target_keys_per_shard=self.target)
        return sf, list(self.captured[-1])

    def driver_keys(self, name: str) -> np.ndarray:
        return K.to_uint64(url_keys(self.read(name)).toArrow()
                           .column("key").to_numpy())

    def prepare_checks(self):
        self.member_keys = self.driver_keys("members")
        self.novel_keys = self.driver_keys("novel")

    def check(self, result):
        sf, rows = result
        errs = []
        distinct = sum(int(r["distinct_keys"]) for r in rows)
        if distinct != self.n_distinct:
            errs.append(f"distinct_keys {distinct} != {self.n_distinct}")
        fed = sum(int(r["input_rows"]) for r in rows)
        if fed != self.n_rows:
            errs.append(f"input_rows {fed} != {self.n_rows}")
        if not sf.contain_np(self.member_keys).all():
            errs.append("false negative on an inserted url")
        passes = int(sf.contain_np(self.novel_keys).sum())
        self.fpp = passes / self.novel_keys.size
        if fpp_too_high(passes, self.novel_keys.size):
            errs.append(f"fpp {self.fpp:.5f} above 2^-7")
        self.last = result
        return errs + self._same_bytes(sf.payloads)


    def metrics(self, op_times, results):
        sf = results[-1][0]
        return {
            "build_keys_per_s": (self.n_rows / statistics.median(op_times),
                                 "1/s"),
            "bits_per_key": (sf.bits_per_entry(self.n_distinct), "bits"),
            "fpp": (self.fpp, "ratio"),
        }

    def traced_ops(self, record, n: int = 5):
        bits = self.last[0].shard_bits
        # the op reads the table once and scans it twice (sizing, build);
        # so do the prefixes: "read" lists the files and reads the schema
        held = {}

        def read():
            held["df"] = self.pages_keys()

        def pages():
            return held["df"]

        def keyed():
            return dist.keys_with_shard(pages(), "key", bits)

        def handoff(pdf: pd.DataFrame) -> pd.DataFrame:
            # the build's grouped-map plan with a kernel-free function
            raw = K.to_uint64(pdf["key"].to_numpy())
            return pd.DataFrame({
                "shard": [int(pdf["shard"].iloc[0])], "kind": ["fuse8"],
                "num_shards": [1 << bits], "input_rows": [int(raw.size)],
                "distinct_keys": [0], "seed": [0], "size_bytes": [0],
                "build_ms": [0.0], "payload": [b""]})

        def sizing():
            n = pages().select(F.approx_count_distinct("key")).collect()[0][0]
            return dist.choose_shard_bits(n, self.target)

        return self.prefix_rounds({
            "read": read,
            "sizing": sizing,
            "url_keys": lambda: noop(pages()),
            "keys_with_shard": lambda: noop(keyed()),
            "handoff": lambda: noop(keyed().groupBy("shard").applyInPandas(
                handoff, dist.FILTER_TABLE_SCHEMA)),
            "build_rows": lambda: noop(dist.build_filter_rows(
                keyed(), "fuse8", 1 << bits)),
            "collect": lambda: dist.build_sharded(pages(), "key",
                                                  kind="fuse8",
                                                  shard_bits=bits),
        }, record, n)

    def layers(self, untraced_op_s, traced_op_s):
        sf, rows = self.last
        # driver-side replay of the shard kernel on the largest shard
        big = max(rows, key=lambda r: int(r["input_rows"]))
        raw = K.to_uint64(
            dist.keys_with_shard(self.pages_keys(), "key", sf.shard_bits)
            .where(F.col("shard") == int(big["shard"])).select("key")
            .toArrow().column("key").to_numpy())
        uniq = np.unique(raw)
        filt = build_filter(uniq, "fuse8")
        kernel_ms = [float(r["build_ms"]) for r in rows]
        p = self.p
        self_times = {
            "dist.shard_sizing_s": p("sizing"),
            "sources.url_keys_s": p("read") + p("url_keys"),
            "dist.keys_with_shard_s": p("keys_with_shard") - p("url_keys"),
            "dist.handoff_s": p("handoff") - p("keys_with_shard"),
            "dist.build_table_s": p("build_rows") - p("handoff"),
            "dist.collect_s": p("collect") - p("build_rows"),
        }
        return {
            **self_times,
            "dist.shards": float(len(rows)),
            "dist.build_tasks": float(stage_tasks(self.spark, "build_rows")),
            "dist.kernel_ms_sum": sum(kernel_ms),
            "dist.kernel_ms_max": max(kernel_ms),
            "dist.kernel_share": max(kernel_ms) / 1e3 / traced_op_s,
            "dist.dedup_ratio": (sum(int(r["distinct_keys"]) for r in rows)
                                 / sum(int(r["input_rows"]) for r in rows)),
            "dist.filter_bytes": float(sf.size_in_bytes()),
            "local.unique_keys_per_s": rate(raw.size, lambda: np.unique(raw)),
            "local.build_filter_keys_per_s": rate(
                uniq.size, lambda: build_filter(uniq, "fuse8")),
            "local.to_bytes_s": median_time(filt.to_bytes),
            "local.seed_attempts": float(max(
                seed_position(int(r["seed"])) for r in rows)),
            "trace.layer_sum_share": sum(self_times.values()) / traced_op_s,
        }


def stage_tasks(spark, group: str) -> int:
    """Task count of the last stage Spark ran for job group ``group``
    (for a build: the grouped-map stage, after AQE coalescing)."""
    tracker = spark.sparkContext.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in (tracker.getJobInfo(j).stageIds or [])]
    info = tracker.getStageInfo(max(stages)) if stages else None
    return int(info.numTasks) if info is not None else 0


# -- probe-urls ----------------------------------------------------------------


class ProbeUrls(Workload):
    name = "probe-urls"
    METRICS = ("probe_keys_per_s", "bits_per_key", "fpp")
    LAYERS = ("probe.scan_s", "probe.udf_boundary_s", "probe.contain_s",
              "probe.aggregate_s", "dist.cold_probe_s", "kernels.route_keys_per_s",
              "local.contain_keys_per_s", "probe.passes",
              "probe.novel_passes")

    def make_inputs(self):
        rng = np.random.default_rng(self.seed)
        self.n_members = _n(12_000_000, self.scale, FILTER_DIVISOR)
        # probed: a random sample of the members plus as many novel urls
        self.n_probed = _n(12_000_000, self.scale)
        ids = inputs.distinct_ids(rng, self.n_members + self.n_probed)
        probed = np.concatenate([ids[:self.n_probed], ids[self.n_members:]])
        truth = np.arange(probed.size) < self.n_probed
        order = rng.permutation(probed.size)
        inputs.write(self.path("members"),
                     {"url": inputs.urls(ids[:self.n_members])})
        inputs.write(self.path("probes"), {"url": inputs.urls(probed[order]),
                                           "truth": truth[order]})
        self.target = shard_target(self.scale, FILTER_DIVISOR)

    def set_up(self):
        self.sf, _ = dist.build_sharded(url_keys(self.read("members")), "key",
                                        kind="fuse8",
                                        target_keys_per_shard=self.target)
        self.udf = self.sf.contains_udf(self.spark)

    def probe_keys(self):
        return self.read("probes").select(F.xxhash64("url").alias("key"),
                                          "truth")

    def run_probe(self, udf):
        rows = (self.probe_keys().where(udf(F.col("key")))
                .groupBy("truth").count().collect())
        counts = {bool(r["truth"]): int(r["count"]) for r in rows}
        return counts.get(True, 0), counts.get(False, 0)

    def op(self):
        return self.run_probe(self.udf)

    def check(self, result):
        members, novel = result
        errs = []
        if members != self.n_probed:
            errs.append(f"member passes {members} != {self.n_probed} "
                        "(false negatives)")
        if fpp_too_high(novel, self.n_probed):
            errs.append(f"fpp {novel / self.n_probed:.5f} above 2^-7")
        self.last = result
        return errs


    def metrics(self, op_times, results):
        return {
            "probe_keys_per_s": (2 * self.n_probed
                                 / statistics.median(op_times), "1/s"),
            "bits_per_key": (self.sf.bits_per_entry(self.n_members), "bits"),
            "fpp": (results[-1][1] / self.n_probed, "ratio"),
        }

    def traced_ops(self, record, n: int = 5):
        @F.pandas_udf("boolean")
        def all_true(s: pd.Series) -> pd.Series:
            return pd.Series(np.ones(len(s), dtype=bool))

        keys = self.probe_keys

        def probed():
            return keys().where(self.udf(F.col("key")))

        times = self.prefix_rounds({
            "scan": lambda: noop(keys()),
            "udf_boundary": lambda: noop(keys().where(all_true(F.col("key")))),
            "contain": lambda: noop(probed()),
            # the whole op's plan: the count and its collect
            "aggregate": lambda: probed().groupBy("truth").count().collect(),
        }, record, n)
        self.cold = []
        for _ in range(2):
            udf = self.sf.contains_udf(self.spark)  # new broadcast + token
            t0 = time.perf_counter()
            r = self.run_probe(udf)
            self.cold.append(time.perf_counter() - t0)
            record(self.check(r))
        return times

    def layers(self, untraced_op_s, traced_op_s):
        keys = K.to_uint64(self.probe_keys().select("key").toArrow()
                           .column("key").to_numpy())
        one = filter_from_bytes(self.sf.payloads[0], self.sf.kind, view=True)
        members, novel = self.last
        p = self.p
        self_times = {
            "probe.scan_s": p("scan"),
            "probe.udf_boundary_s": p("udf_boundary") - p("scan"),
            "probe.contain_s": p("contain") - p("udf_boundary"),
            "probe.aggregate_s": p("aggregate") - p("contain"),
        }
        return {
            **self_times,
            "dist.cold_probe_s": statistics.median(self.cold) - traced_op_s,
            "kernels.route_keys_per_s": rate(
                keys.size, lambda: dist.shard_of_hash(keys,
                                                      self.sf.shard_bits)),
            "local.contain_keys_per_s": rate(keys.size,
                                             lambda: one.contain(keys)),
            "probe.passes": float(members + novel),
            "probe.novel_passes": float(novel),
            "dist.shards": float(self.sf.num_shards),
            "dist.filter_bytes": float(self.sf.size_in_bytes()),
            "trace.layer_sum_share": sum(self_times.values()) / traced_op_s,
        }


# -- ingest-urls ---------------------------------------------------------------


class IngestUrls(Workload):
    name = "ingest-urls"
    METRICS = ("ingest_batch_s", "ingest_probe_s", "bits_per_key", "fpp")
    LAYERS = ("incremental.keystore_write_s", "incremental.rebuild_s",
              "incremental.current_filter_s", "probe.sink_write_s",
              "incremental.rebuilt_keys",
              "incremental.rebuild_amplification", "incremental.log_rows",
              "incremental.keystore_mb")
    SHARD_BITS = 4

    def make_inputs(self):
        rng = np.random.default_rng(self.seed)
        self.n_history = _n(12_000_000, self.scale)
        self.n_batch = _n(750_000, self.scale)
        n_frontier = _n(1_000_000, self.scale)
        self.n_novel = n_frontier // 2
        ids = inputs.distinct_ids(
            rng, self.n_history + self.n_batch + self.n_novel)
        ingested = ids[:self.n_history + self.n_batch]
        novel = ids[self.n_history + self.n_batch:]
        self.n_seen = n_frontier - self.n_novel
        seen = rng.choice(ingested, size=self.n_seen, replace=False)
        frontier = np.concatenate([seen, novel])
        flag = np.arange(frontier.size) < self.n_seen
        order = rng.permutation(frontier.size)
        inputs.write(self.path("history"),
                     {"url": inputs.urls(ids[:self.n_history])})
        inputs.write(self.path("batch"), {"url": inputs.urls(
            ids[self.n_history:self.n_history + self.n_batch])})
        inputs.write(self.path("frontier"), {
            "url": inputs.urls(frontier[order]), "ingested": flag[order]})
        self.ops = 0

    def maintainer(self, base_dir):
        return IncrementalFilterMaintainer(base_dir, key_col="key",
                                           kind="fuse8",
                                           shard_bits=self.SHARD_BITS)

    def set_up(self):
        self.template = self.path("state-template")
        self.maintainer(self.template).process_batch(
            url_keys(self.read("history")), 0)

    def before_op(self):
        # every op starts from the same history: a copy of the template
        self.close()
        self.ops += 1
        self.state = self.path(f"state-{self.ops}")
        shutil.copytree(self.template, self.state)

    def close(self):
        if self.ops:
            shutil.rmtree(self.state, ignore_errors=True)

    def op(self):
        m = self.maintainer(self.state)
        t0 = time.perf_counter()
        self.spans.step("incremental.process_batch_s", lambda: m.process_batch(
            url_keys(self.read("batch")), 1))
        t1 = time.perf_counter()
        probe = StreamingFilterProbe(m, "key", os.path.join(self.state, "out"),
                                     mode="drop_members", refresh_every=1)
        frontier = self.read("frontier").select(
            F.xxhash64("url").alias("key"), "ingested")
        self.spans.step("probe.process_batch_s",
                        lambda: probe.process_batch(frontier, 1))
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, self.state

    def table_rows(self, state):
        return [r.asDict() for r in self.maintainer(state)
                .current_table(self.spark)
                .select("shard", "distinct_keys", "input_rows", "size_bytes",
                        "payload").orderBy("shard").collect()]

    def check(self, result):
        _, _, state = result
        errs = []
        out = {bool(r["ingested"]): int(r["count"]) for r in
               self.spark.read.parquet(os.path.join(state, "out"))
               .groupBy("ingested").count().collect()}
        if out.get(True, 0):
            errs.append(f"{out[True]} already-ingested urls survived "
                        "drop_members (false negatives)")
        dropped = self.n_novel - out.get(False, 0)
        self.last_fpp = dropped / self.n_novel
        if fpp_too_high(dropped, self.n_novel):
            errs.append(f"fpp {self.last_fpp:.5f} above 2^-7")
        rows = self.table_rows(state)
        distinct = sum(int(r["distinct_keys"]) for r in rows)
        want = self.n_history + self.n_batch
        if distinct != want:
            errs.append(f"distinct_keys {distinct} != {want}")
        self.last_bits = sum(int(r["size_bytes"]) for r in rows) * 8 / want
        return errs + self._same_bytes(r["payload"] for r in rows)

    def metrics(self, op_times, results):
        return {
            "ingest_batch_s": (statistics.median(r[0] for r in results), "s"),
            "ingest_probe_s": (statistics.median(r[1] for r in results), "s"),
            "bits_per_key": (self.last_bits, "bits"),
            "fpp": (self.last_fpp, "ratio"),
        }

    @contextlib.contextmanager
    def instrument(self):
        from pyspark.sql.readwriter import DataFrameWriter
        step = self.spans.step
        orig_parquet = DataFrameWriter.parquet
        orig_current = IncrementalFilterMaintainer.current_filter

        def parquet(writer, path, *a, **kw):
            # each parquet write executes one stage of the op's plan
            name = ("incremental.keystore_write_s" if path.endswith("keys")
                    else "incremental.rebuild_s" if path.endswith("filters")
                    else "probe.sink_write_s")
            return step(name, lambda: orig_parquet(writer, path, *a, **kw))

        def current(m, spark):
            return step("incremental.current_filter_s",
                        lambda: orig_current(m, spark))

        DataFrameWriter.parquet = parquet
        IncrementalFilterMaintainer.current_filter = current
        try:
            yield
        finally:
            DataFrameWriter.parquet = orig_parquet
            IncrementalFilterMaintainer.current_filter = orig_current

    def layers(self, untraced_op_s, traced_op_s):
        n_traced = max(1, sum(1 for s in self.spans.spans
                              if s[0] == "probe.process_batch_s"))
        tot = self.spans.totals()
        log = self.spark.read.parquet(os.path.join(self.state, "filters"))
        latest = log.agg(F.max("seq")).first()[0]
        rebuilt = log.where(F.col("seq") == latest).agg(
            F.sum("distinct_keys"), F.sum("build_ms")).first()
        store = 0
        for root, _, files in os.walk(os.path.join(self.state, "keys")):
            store += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        names = ("incremental.keystore_write_s", "incremental.rebuild_s",
                 "incremental.current_filter_s", "probe.sink_write_s")
        out = {n: tot.get(n, 0.0) / n_traced for n in names}
        out.update({
            "incremental.rebuilt_keys": float(rebuilt[0]),
            "incremental.rebuild_amplification": rebuilt[0] / self.n_batch,
            "incremental.log_rows": float(log.count()),
            "incremental.keystore_mb": store / 2 ** 20,
            "dist.kernel_ms_sum": float(rebuilt[1]),
            "dist.shards": float(1 << self.SHARD_BITS),
            "trace.layer_sum_share": sum(out.values()) / traced_op_s,
        })
        return out


# -- sketch-urls ---------------------------------------------------------------


class SketchUrls(Workload):
    name = "sketch-urls"
    METRICS = ("sketch_rows_per_s", "distinct_rel_err")
    LAYERS = ("sketch_agg.hll_s", "sketch_agg.cms_s", "sketch_agg.kll_s",
              "kmv.kmv_distinct_s", "sampling.priority_sample_s",
              "sketch.jvm_ref_s")
    QS = (0.1, 0.5, 0.9)
    KMV_K = 4096
    SAMPLE_K = 1024

    def make_inputs(self):
        rng = np.random.default_rng(self.seed)
        self.n_distinct = _n(3_200_000, self.scale)
        ids = inputs.distinct_ids(rng, self.n_distinct)
        rows = inputs.with_duplicates(rng, ids, 0.25)
        self.n_rows = rows.size
        h = inputs.mix(rows ^ 0x5bd1e995)
        tokens = (50 + h % np.uint64(4000)).astype(np.int64)
        langs = np.array(["en", "de", "fr", "es", "zh", "ru", "ja", "pt"])
        inputs.write(self.path("pages"), {
            "url": inputs.urls(rows), "tokens": tokens,
            "lang": langs[(h >> np.uint64(40)) % np.uint64(8)]})
        self.sorted_tokens = np.sort(tokens)
        self.total_tokens = int(tokens.sum())
        uniq, counts = np.unique(rows, return_counts=True)
        top = np.argsort(-counts, kind="stable")[:8]
        self.top_urls = inputs.urls(uniq[top]).to_pylist()
        self.top_counts = counts[top]

    def prepare_checks(self):
        keys = dict(self.read("pages").where(F.col("url").isin(self.top_urls))
                    .select("url", F.xxhash64("url")).distinct().collect())
        self.top_keys = np.array([keys[u] for u in self.top_urls],
                                 dtype=np.int64)

    def op(self):
        pages = self.read("pages")
        step = self.spans.step
        hll = step("sketch_agg.hll_s",
                   lambda: sketch_agg.hll_count_distinct(pages, "url"))
        cms = step("sketch_agg.cms_s",
                   lambda: sketch_agg.cms_sketch(pages, "url"))
        qs = step("sketch_agg.kll_s", lambda: sketch_agg.kll_quantiles(
            pages, "tokens", list(self.QS)))
        kmv_row = step("kmv.kmv_distinct_s", lambda: kmv.kmv_distinct(
            pages, "url", k=self.KMV_K).first())
        sample = step("sampling.priority_sample_s",
                      lambda: sampling.priority_sample(
                          pages, "url", "tokens", k=self.SAMPLE_K)
                      .agg(F.count("*"), F.sum("est_weight")).first())
        return hll, cms, qs, int(kmv_row["distinct_est"]), sample

    def rel_errors(self, result):
        hll, _, _, kmv_est, _ = result
        return (abs(hll - self.n_distinct) / self.n_distinct,
                abs(kmv_est - self.n_distinct) / self.n_distinct)

    def check(self, result):
        hll, cms, qs, kmv_est, sample = result
        errs = []
        hll_err, kmv_err = self.rel_errors(result)
        if hll_err > 4 * 1.04 / math.sqrt(4096):
            errs.append(f"HLL relative error {hll_err:.4f} above 4 sigma")
        if kmv_err > 4 / math.sqrt(self.KMV_K - 2):
            errs.append(f"KMV relative error {kmv_err:.4f} above 4 sigma")
        est = cms.query(self.top_keys)
        slack = math.ceil(math.e * self.n_rows / cms.width)
        if not isinstance(cms, CountMin) or np.any(est < self.top_counts) \
                or np.any(est > self.top_counts + slack):
            errs.append("count-min estimate outside [true, true + eN/w]")
        for q, v in zip(self.QS, qs):
            r = np.searchsorted(self.sorted_tokens, v) / self.n_rows
            if abs(r - q) > 0.025:
                errs.append(f"KLL q={q} rank {r:.4f} off by more than 0.025")
        n, total = int(sample[0]), int(sample[1])
        if n != self.SAMPLE_K:
            errs.append(f"priority sample has {n} rows, not {self.SAMPLE_K}")
        if abs(total - self.total_tokens) / self.total_tokens \
                > 4 / math.sqrt(self.SAMPLE_K - 1):
            errs.append("priority-sample total outside 4 sigma")
        return errs


    def metrics(self, op_times, results):
        return {
            "sketch_rows_per_s": (self.n_rows / statistics.median(op_times),
                                  "1/s"),
            "distinct_rel_err": (max(self.rel_errors(results[-1])), "ratio"),
        }

    def layers(self, untraced_op_s, traced_op_s):
        pages = self.read("pages")
        tot = self.spans.totals()
        n_traced = max(1, sum(1 for s in self.spans.spans
                              if s[0] == "sketch_agg.hll_s"))
        names = ("sketch_agg.hll_s", "sketch_agg.cms_s", "sketch_agg.kll_s",
                 "kmv.kmv_distinct_s", "sampling.priority_sample_s")
        out = {n: tot.get(n, 0.0) / n_traced for n in names}
        out["trace.layer_sum_share"] = sum(out.values()) / traced_op_s
        out["sketch.jvm_ref_s"] = median_time(
            lambda: pages.select(F.approx_count_distinct("url")).collect())
        return out


# -- compound workloads --------------------------------------------------------


class Compound(Workload):
    """One op of each workload in ``PARTS``, in turn, as one op.  Each
    part keeps its inputs in a directory of its own; when two parts
    report the same metric, the first part's value is kept."""
    PARTS: tuple = ()
    PART_SCALE = 1.0

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        self.parts = [cls(spark, os.path.join(work, cls.name), seed,
                          scale * self.PART_SCALE) for cls in self.PARTS]
        for part in self.parts:
            part.spans = self.spans

    def make_inputs(self):
        for part in self.parts:
            os.makedirs(part.work, exist_ok=True)
            part.make_inputs()

    def set_up(self):
        for part in self.parts:
            part.set_up()

    def prepare_checks(self):
        for part in self.parts:
            part.prepare_checks()

    def before_op(self):
        for part in self.parts:
            part.before_op()

    def close(self):
        for part in self.parts:
            part.close()

    @property
    def prefix(self) -> dict:
        """The parts' plan-prefix times, keyed ``<part>/<prefix>``."""
        return {f"{part.name}/{k}": v for part in self.parts
                for k, v in getattr(part, "prefix", {}).items()}

    def op(self):
        out = []
        for part in self.parts:
            t0 = time.perf_counter()
            r = part.op()
            out.append((time.perf_counter() - t0, r))
        return out

    def check(self, result):
        return [e for part, (_, r) in zip(self.parts, result)
                for e in part.check(r)]

    def metrics(self, op_times, results):
        out = {}
        for i, part in reversed(list(enumerate(self.parts))):
            out.update(part.metrics([r[i][0] for r in results],
                                    [r[i][1] for r in results]))
        return out

    def traced_ops(self, record):
        # each part's own traced ops (prefix rounds or spans), summed by
        # round
        self.part_traced = [part.traced_ops(record) for part in self.parts]
        return [sum(t) for t in zip(*self.part_traced)]

    def layers(self, untraced_op_s, traced_op_s):
        out = {}
        covered = 0.0
        for part, times in reversed(list(zip(self.parts, self.part_traced))):
            part_s = statistics.median(times)
            layer = part.layers(untraced_op_s, part_s)
            covered += layer.pop("trace.layer_sum_share") * part_s
            out.update(layer)
        out["trace.layer_sum_share"] = covered / sum(
            statistics.median(t) for t in self.part_traced)
        return out


def _union(*names) -> tuple:
    return tuple(dict.fromkeys(n for group in names for n in group))


class BuildProbeUrls(Compound):
    """One build-urls op, then one probe-urls op: the build and probe
    layers on one measured workload."""
    name = "build-probe-urls"
    PARTS = (BuildUrls, ProbeUrls)
    METRICS = _union(BuildUrls.METRICS, ProbeUrls.METRICS)
    LAYERS = _union(BuildUrls.LAYERS, ProbeUrls.LAYERS)


class IngestSketchUrls(Compound):
    """One ingest-urls op, then one sketch-urls op, each at a quarter of
    its own size (both ops are mostly per-job overhead at these sizes):
    the streaming and sketch layers on one measured workload."""
    name = "ingest-sketch-urls"
    PARTS = (IngestUrls, SketchUrls)
    METRICS = _union(IngestUrls.METRICS, SketchUrls.METRICS)
    LAYERS = _union(IngestUrls.LAYERS, SketchUrls.LAYERS)
    PART_SCALE = 0.25
    MIN_OPS = 2  # an op takes 4 to 7 s: fewer than the others
    WARM_OPS = 1


WORKLOADS = {w.name: w for w in (BuildUrls, ProbeUrls, IngestUrls, SketchUrls,
                                 BuildProbeUrls, IngestSketchUrls)}
