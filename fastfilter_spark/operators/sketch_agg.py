"""Distributed mergeable-sketch aggregation (the UDAF layer).

Pattern: map-side partials + tree merge — the classic mergeable-UDAF
physical plan, a narrow per-task fold so each task folds all of its
rows into ONE sketch and emits one binary row:

    scan -> [coalesce: small inputs only]          [no shuffle]
         -> fold (partial per fold task)
         -> [optional tree level: repartition + merge per task]
         -> collect tiny blobs -> driver merge

The fold runs inside Spark's JVM when every sketch of the call is a
HyperLogLog, CountMin, Bloom, ThetaKMV or KLL (``_jvm_empties``):
native/SketchFold.java is a ``Dataset.mapPartitions`` that starts each
sketch from its empty sketch's ``to_bytes()``, made once on the driver,
and emits the bytes functions/sketches.py would (KLL: with the same
compaction rule and an exact ``n``; its bytes depend on fold order).
Its tree level merges in the same class, so such a plan has no Python
node.  Any other sketch (t-digest, Misra-Gries, AMS, or a mix holding
one) folds in ``mapInPandas`` as before, and so does the grouped
``sketch_by_key``.

Fold tasks are sized by input bytes, not by scan splits
(``plans.size_python_fold``): every task pays a fixed start-up cost
(~0.07 CPU-s for a Python task on CPython 3.11 with the
zip-invalidation hook in ``fastfilter_spark/_worker.py``, a few ms for
a JVM one), which dwarfs the rows of a small input, so an input
estimated below ``defaultParallelism`` x
``spark.sql.files.openCostInBytes`` bytes folds in
``ceil(bytes / openCostInBytes)`` tasks.  Larger inputs, and
inputs Spark cannot size, fold one partial per input partition.

Map-side partial aggregation means the shuffle (if any) moves only
one sketch blob per fold task (KBs), never rows — the property that
makes this viable on a 10^12-row table: with 10^5 input tasks and
fanout 64, the tree is depth 2 and the driver merges <=64 blobs.

Merge associativity/commutativity of every sketch (functions/sketches.py)
is what makes the result independent of partition order; verified by
tests/test_sketches.py over shuffled partitionings per
BASELINE.json:north_rule, and the JVM folds' bytes by
tests/test_jvm_sketch_fold.py.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from fastfilter_spark.functions.sketches import (
    Bloom, CountMin, HyperLogLog, KLL, MisraGries, TDigest, ThetaKMV,
    sketch_from_bytes,
)
from fastfilter_spark.operators.dist import _jvm_factory, broadcast_probe
from fastfilter_spark.plans import size_python_fold

def sketch_column(df: DataFrame, col: str, factory: Callable[[], object],
                  as_float: bool = False, tree_fanout: int = 64):
    """Aggregate ``df[col]`` into one sketch via partials + tree merge.

    ``as_float`` selects float64 ingestion (KLL/t-digest); default int64
    (HLL/CMS/Bloom expect integer keys — hash strings first, e.g. with
    ``F.xxhash64``).  Returns the merged sketch object (a fresh
    ``factory()`` when the input has no non-null rows).

    The single-sketch case of ``multi_sketch_column`` — one pipeline, so
    a fix to the partials/tree-merge plan (null handling at the Arrow
    boundary, fanout sizing) lands in both entry points at once.
    """
    merged = multi_sketch_column(df, col, {"s": factory},
                                 as_float=as_float, tree_fanout=tree_fanout)
    return merged.get("s", factory())


_NAMED_BLOB_SCHEMA = "name string, sketch binary"


def _multi_partial_map(factories: dict, colname: str, as_float: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sks = None
        for pdf in batches:
            vals = pdf[colname].dropna().to_numpy()
            if vals.size == 0:
                continue
            if sks is None:
                sks = {n: f() for n, f in factories.items()}
            arr = (vals.astype(np.float64) if as_float
                   else vals.astype(np.int64))
            for sk in sks.values():
                sk.update(arr)
        if sks is not None:
            yield pd.DataFrame({"name": list(sks),
                                "sketch": [s.to_bytes()
                                           for s in sks.values()]})
    return fn


def _named_merge_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    accs: dict = {}
    for pdf in batches:
        for name, blob in zip(pdf["name"], pdf["sketch"]):
            sk = sketch_from_bytes(bytes(blob))
            accs[name] = sk if name not in accs else accs[name].merge(sk)
    if accs:
        yield pd.DataFrame({"name": list(accs),
                            "sketch": [s.to_bytes() for s in accs.values()]})


# the sketches native/SketchFold.java folds byte for byte (KLL: with n
# exact), and the column types it reads as long / as double
_JVM_SKETCHES = (HyperLogLog, CountMin, Bloom, ThetaKMV, KLL)
_LONG_TYPES = ("tinyint", "smallint", "int", "bigint")
_DOUBLE_TYPES = _LONG_TYPES + ("float", "double")


def _jvm_empties(src: DataFrame, col: str, factories: dict,
                 as_float: bool) -> list[bytes] | None:
    """Each factory's empty sketch as ``to_bytes()`` when SketchFold can
    fold them all (every sketch one of ``_JVM_SKETCHES``, only KLL on
    ``as_float``, an integral or, on ``as_float``, floating column), else
    None: the Python fold then runs."""
    sketches = [f() for f in factories.values()]
    if as_float:
        ok = all(type(s) is KLL for s in sketches)
        types = _DOUBLE_TYPES
    else:
        ok = all(type(s) in _JVM_SKETCHES for s in sketches)
        types = _LONG_TYPES
    if not ok or dict(src.dtypes)[col] not in types:
        return None
    return [s.to_bytes() for s in sketches]


def _fold(df: DataFrame, col: str, factories: dict,
          as_float: bool) -> tuple[DataFrame, bool]:
    """(name, blob) rows, one per factory per fold task that saw data,
    and whether SketchFold (not a Python worker) folded them."""
    # nulls are dropped JVM-side BEFORE the fold: a nullable long column
    # with any null reaching pandas arrives as float64, and a float64
    # round-trip silently corrupts 64-bit keys above 2^53
    src = size_python_fold(
        df.select(F.col(col).alias(col)).dropna(subset=[col]))
    empties = _jvm_empties(src, col, factories, as_float)
    if empties is None:
        return src.mapInPandas(_multi_partial_map(factories, col, as_float),
                               schema=_NAMED_BLOB_SCHEMA), False
    spark = df.sparkSession
    return DataFrame(_jvm_factory(spark, "SketchFold").fold(
        src._jdf, list(factories), empties, as_float), spark), True


def multi_sketch_column(df: DataFrame, col: str,
                        factories: dict[str, Callable[[], object]],
                        as_float: bool = False,
                        tree_fanout: int = 64) -> dict[str, object]:
    """One-pass multi-sketch aggregation: each task folds its rows into
    one sketch PER factory and emits (name, blob) rows; an optional tree
    level bounds the driver's merge fan-in.  Same physical shape as
    ``sketch_column`` (partials + tree merge; the driver only ever sees
    KB wire blobs, never rows) but scans the input once for all
    sketches — the building block for streaming micro-batch aggregation
    where the batch should not be re-scanned per sketch.

    Returns {name: merged sketch} for names that saw data; names whose
    input was empty are absent (callers keep their running state).
    """
    partials, jvm = _fold(df, col, factories, as_float)
    # merge-tree sizing: defaultParallelism bounds the fold task count
    # of any input the coalesce sizing touches, and approximates it for
    # the rest, without df.rdd.getNumPartitions(), which would convert
    # the analyzed plan to an RDD just to read a number.
    # Underestimating only means more blobs per merge bucket — blobs
    # are KBs, so any estimate in the right order of magnitude is fine.
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    if n_parts > tree_fanout:
        buckets = max(1, math.ceil(n_parts / tree_fanout))
        partials = partials.repartition(buckets)
        partials = (DataFrame(_jvm_factory(spark, "SketchFold")
                              .merge(partials._jdf), spark) if jvm
                    else partials.mapInPandas(_named_merge_map,
                                              schema=_NAMED_BLOB_SCHEMA))
    merged: dict[str, object] = {}
    for r in partials.collect():
        sk = sketch_from_bytes(bytes(r["sketch"]))
        name = r["name"]
        merged[name] = sk if name not in merged else merged[name].merge(sk)
    return merged


# -- convenience aggregations ------------------------------------------------

def hll_count_distinct(df: DataFrame, col: str, p: int = 12,
                       hash_strings_col: bool | None = None) -> float:
    """Approximate COUNT(DISTINCT col) via HyperLogLog.

    String columns are hashed JVM-side with xxhash64 (no Python in the
    row path); the HLL then re-mixes with murmur64, so any 64-bit input
    hash distribution works.
    """
    hll = sketch_column(_keyed_long(df, col, hash_strings_col), col,
                        lambda: HyperLogLog(p))
    return hll.estimate()


def cms_sketch(df: DataFrame, col: str, width: int = 2048, depth: int = 5,
               hash_strings_col: bool | None = None) -> CountMin:
    return sketch_column(_keyed_long(df, col, hash_strings_col), col,
                         lambda: CountMin(width, depth))


def kll_quantiles(df: DataFrame, col: str, qs: list[float],
                  k: int = 200) -> list[float]:
    sk = sketch_column(df.select(F.col(col).cast("double").alias(col)),
                       col, lambda: KLL(k), as_float=True)
    return [sk.quantile(q) for q in qs]


def tdigest_quantiles(df: DataFrame, col: str, qs: list[float],
                      delta: float = 100.0) -> list[float]:
    sk = sketch_column(df.select(F.col(col).cast("double").alias(col)),
                       col, lambda: TDigest(delta), as_float=True)
    return [sk.quantile(q) for q in qs]


def _keyed_long(df: DataFrame, col: str, hash_strings_col: bool | None,
                extra_cols: tuple[str, ...] = (),
                out_name: str | None = None) -> DataFrame:
    """Canonical sketch-key prep shared by every sketch entry point
    (global and grouped): dtype sniff, null drop, xxhash64-vs-cast.
    ``extra_cols`` ride through untouched (grouped paths keep their key
    columns); ``out_name`` renames the prepared value column."""
    dtype = dict(df.dtypes)[col]
    if hash_strings_col is None:
        hash_strings_col = dtype in ("string", "binary")
    # drop nulls on the SOURCE column before any transform: Spark's
    # xxhash64(NULL) is 42 (the seed), not NULL, so hashing first would
    # insert a phantom member for every null row — wrong for distinct
    # counts (SQL COUNT(DISTINCT) excludes nulls) and a guaranteed
    # false positive for every null-keyed Bloom probe.  The cast path
    # keeps its null-out-on-failed-cast behavior (dropped downstream).
    nonnull = df.where(F.col(col).isNotNull())
    val = (F.xxhash64(F.col(col)) if hash_strings_col
           else F.col(col).cast("long"))
    return nonnull.select(*extra_cols, val.alias(out_name or col))


def frequent_items(df: DataFrame, col: str, k: int = 64,
                   hash_strings_col: bool | None = None) -> MisraGries:
    """One-pass Misra-Gries frequent-items summary of ``df[col]`` —
    same partials + tree-merge plan as every sketch here (the
    mergeable-summaries combine rule keeps the n/(k+1) error bound
    under arbitrary merge trees).  String columns are xxhash64-keyed;
    the retained counters then hold hashes — ``heavy_hitters`` joins
    them back to the original values."""
    return sketch_column(_keyed_long(df, col, hash_strings_col), col,
                         lambda: MisraGries(k))


def heavy_hitters(df: DataFrame, col: str, min_count: int | None = None,
                  k: int = 64) -> DataFrame:
    """EXACT heavy hitters — (col, n_exact) for every value occurring
    >= ``min_count`` times — without a full groupBy of the corpus.

    Plan: one streaming MG pass (blobs-only driver traffic) yields
    <= k candidate keys with a containment guarantee (every item with
    true count > n/(k+1) is retained — hash collisions can only ADD
    weight, never evict a heavy item); then one candidate-restricted
    scan (`IN (<=k keys)` — pushed to the parquet reader) counts the
    candidates exactly and filters by threshold.  At 10^12 rows the
    second pass aggregates only rows matching <= k keys instead of
    shuffling the full column.

    ``min_count`` defaults to the guarantee threshold
    floor(n/(k+1)) + 1; passing anything lower raises (items below the
    guarantee line may have been evicted, so the result could silently
    miss qualifying values — raise k instead).
    """
    sk = frequent_items(df, col, k=k)
    floor_thresh = sk.n // (k + 1) + 1
    if min_count is None:
        min_count = floor_thresh
    elif min_count < floor_thresh:
        raise ValueError(
            f"min_count {min_count} is below the MG guarantee threshold "
            f"{floor_thresh} (= n/(k+1)+1 for n={sk.n}, k={k}); items "
            "that rare may have been evicted from the summary — use a "
            f"larger k (>= {sk.n // max(min_count - 1, 1)})")
    cand = [int(v) for v in sk.counters]
    dtype = dict(df.dtypes)[col]
    keyexpr = (F.xxhash64(F.col(col)) if dtype in ("string", "binary")
               else F.col(col).cast("long"))
    return (df.where(keyexpr.isin(cand))
            .groupBy(col).agg(F.count("*").alias("n_exact"))
            .where(F.col("n_exact") >= int(min_count)))


def theta_sketch(df: DataFrame, col: str, k: int = 4096,
                 hash_strings_col: bool | None = None) -> ThetaKMV:
    """Theta/KMV sketch of ``df[col]`` — distinct counting PLUS set
    operations across sketches (see ThetaKMV).  Same partials + tree
    merge plan as every other sketch here."""
    return sketch_column(_keyed_long(df, col, hash_strings_col), col,
                         lambda: ThetaKMV(k))


def theta_intersection(df_a: DataFrame, col_a: str,
                       df_b: DataFrame, col_b: str,
                       k: int = 4096) -> float:
    """|distinct(a) ∩ distinct(b)| estimate from two independent scans —
    neither side is ever joined or shuffled against the other, which is
    the whole point at 10^12 x 10^12 rows (an exact answer would be a
    full distinct-join).

    Both sides MUST be keyed identically or no hash ever collides: the
    column types are validated here (a string side silently cast('long')
    would be all-null -> empty sketch -> silently-wrong 0/NaN estimate).
    Two string/binary columns are both hashed with JVM xxhash64; two
    integer-castable columns are both cast('long'); a mixed pair is
    rejected (Spark's xxhash64 of a long differs from xxhash64 of its
    string form)."""
    ta = dict(df_a.dtypes)[col_a]
    tb = dict(df_b.dtypes)[col_b]
    a_str = ta in ("string", "binary")
    b_str = tb in ("string", "binary")
    if a_str != b_str:
        raise ValueError(
            f"theta_intersection key columns must be the same family: "
            f"{col_a} is {ta} but {col_b} is {tb} — xxhash64(long) != "
            f"xxhash64(string(long)), so a mixed pair never intersects; "
            "cast one side first")
    hashed = a_str  # hash both, or cast both
    sa = theta_sketch(df_a, col_a, k, hash_strings_col=hashed)
    sb = theta_sketch(df_b, col_b, k, hash_strings_col=hashed)
    return sa.intersect_estimate(sb)


def bloom_contains_udf(bloom: Bloom, spark):
    """Probe column builder mirroring the build-side key prep of
    ``bloom_sketch``: returns a callable ``Column -> Column``.

    The build path feeds the Bloom either raw ``cast("long")`` keys or
    JVM ``xxhash64(col)`` values (string/binary columns); a probe that
    does not apply the SAME transform silently returns ~100% false
    negatives (or crashes on strings).  ``bloom_sketch`` records its
    choice on the returned sketch as ``spark_hashed_input``; this reads
    it and applies the matching JVM-side prep before the UDF — so the
    hashing stays in whole-stage codegen and the UDF always receives
    longs.  Probe the same column TYPE as the build: Spark's xxhash64
    of a long and of its string form differ.

    The UDF is the library's one broadcast probe
    (``dist.broadcast_probe``): the bit array is broadcast once and
    native/FilterProbe.java reads it inside the JVM, so no key crosses
    into Python.  A null probe key probes False (never a member:
    ``_keyed_long`` drops source nulls before the build).  On the hashed
    path the key stays null for a null source — Spark's xxhash64(NULL)
    is 42, not NULL — and a failed cast is null too, so the probe's null
    check answers both.
    """
    contains = broadcast_probe(spark, bloom)
    hashed = bool(getattr(bloom, "spark_hashed_input", False))

    def probe(col):
        if isinstance(col, str):
            col = F.col(col)   # accept a column name like F.* builtins
        return contains(F.when(col.isNotNull(), F.xxhash64(col)) if hashed
                        else col)

    return probe


def bloom_sketch(df: DataFrame, col: str, capacity: int | None = None,
                 fpp: float = 0.01,
                 hash_strings_col: bool | None = None) -> Bloom:
    if hash_strings_col is None:
        hash_strings_col = dict(df.dtypes)[col] in ("string", "binary")
    keyed = _keyed_long(df, col, hash_strings_col)
    if capacity is None:
        # approx_count_distinct has ~2% error itself; pad so an
        # underestimate cannot push the realized fpp past the target
        # (max(1,...) keeps an empty input from a zero-size filter)
        capacity = max(1, int(keyed.select(
            F.approx_count_distinct(col).alias("n")).collect()[0]["n"] * 1.1))
    bf = sketch_column(keyed, col, lambda: Bloom.from_capacity(capacity, fpp))
    # record the build-side key prep so bloom_contains_udf can mirror it
    bf.spark_hashed_input = bool(hash_strings_col)
    return bf


# -- grouped (per-key) sketch aggregation ------------------------------------

def _grouped_partial_map(key_cols: list, col: str, factory, as_float: bool,
                         max_partials: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sks: dict = {}

        def flush() -> pd.DataFrame:
            keys = list(sks)
            data = {k: [kv[i] for kv in keys]
                    for i, k in enumerate(key_cols)}
            data["sketch"] = [s.to_bytes() for s in sks.values()]
            return pd.DataFrame(data)

        for pdf in batches:
            for kv, sub in pdf.groupby(key_cols, sort=False):
                if not isinstance(kv, tuple):
                    kv = (kv,)
                vals = sub[col].to_numpy()
                arr = (vals.astype(np.float64) if as_float
                       else vals.astype(np.int64))
                sk = sks.get(kv)
                if sk is None:
                    if len(sks) >= max_partials:
                        # bound task memory BEFORE inserting a new key
                        # (checking only between Arrow batches would let
                        # one wide batch overshoot the documented
                        # max_partials x sketch_bytes bound); emitting
                        # partials and restarting is lossless — the
                        # downstream per-key merge absorbs them
                        yield flush()
                        sks = {}
                    sk = sks[kv] = factory()
                sk.update(arr)
        if sks:
            yield flush()
    return fn


def _by_key_partials(df: DataFrame, key_cols: list[str], col: str,
                     factory: Callable[[], object], as_float: bool,
                     max_partials: int) -> DataFrame:
    """(key_cols..., sketch) partial rows of ``sketch_by_key``: each
    fold task emits one blob per key it saw (more after a flush)."""
    cond = F.col(col).isNotNull()
    for k in key_cols:
        cond = cond & F.col(k).isNotNull()
    src = df.select(*key_cols, col).where(cond)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields if f.name in key_cols)
    return size_python_fold(src).mapInPandas(
        _grouped_partial_map(key_cols, col, factory, as_float,
                             max_partials),
        schema=key_schema + ", sketch binary")


def sketch_by_key(df: DataFrame, key_cols: list[str], col: str,
                  factory: Callable[[], object], as_float: bool = False,
                  max_partials: int = 4096) -> DataFrame:
    """Grouped mergeable sketch aggregation: ONE sketch per key group,
    returned as (key_cols..., sketch binary) rows.

    The classic mergeable-UDAF physical plan: each fold task folds its
    rows into per-key partial sketches IN PLACE (map-side combine — no
    row ever shuffles), emits (key, blob) rows, and a single shuffle
    merges blobs per key.  Fold tasks are sized by input bytes like
    every sketch here (module docstring): a small input folds in a few
    Python tasks instead of one per scan split.  For
    distinct-URLs-per-host over 10^12 rows the exchange carries
    |hosts seen| x |tasks| blobs instead of 10^12 keys — and a sketch whose
    wire format adapts to its fill (HLL ships sparse (index, rho) pairs
    under ~20% register occupancy) cuts the common long-tail-key partial
    from KBs to tens of bytes, so the shuffle is priced by total
    distinct mass, not |keys| x dense-sketch-size.  Skew is defused by
    construction: a key hot in N tasks yields N partial blobs whose
    merge is KB-sized work, never a fat task of raw rows — no salting
    needed.

    ``max_partials`` bounds per-task state: a task seeing more distinct
    keys flushes its partials and restarts the dict (correctness
    unchanged — the per-key merge absorbs multiple blobs from one
    task; memory stays <= max_partials x sketch_bytes).

    Rows with a NULL value OR a NULL key are excluded (mirrors SQL
    aggregate null semantics for values; null KEYS are dropped rather
    than grouped because a nullable int64 key would cross Arrow as
    float64 and corrupt values above 2^53 — pre-coalesce null keys to
    a sentinel if you need them grouped).
    """
    partials = _by_key_partials(df, key_cols, col, factory, as_float,
                                max_partials)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["sketch"]:
            sk = sketch_from_bytes(bytes(b))
            acc = sk if acc is None else acc.merge(sk)
        out = {k: [pdf[k].iloc[0]] for k in key_cols}
        out["sketch"] = [acc.to_bytes()]
        return pd.DataFrame(out)

    return partials.groupBy(*key_cols).applyInPandas(
        merge, schema=partials.schema)


def hll_distinct_by_key(df: DataFrame, key_cols: list[str], col: str,
                        p: int = 12,
                        hash_strings_col: bool | None = None) -> DataFrame:
    """Approximate COUNT(DISTINCT col) GROUP BY key_cols via per-key
    HLL sketches (see ``sketch_by_key`` for the plan shape).  Returns
    (key_cols..., approx_distinct long); error is the published HLL
    bound (sigma = 1.04/sqrt(2^p)) independently per key.
    """
    prepped = _keyed_long(df, col, hash_strings_col,
                          extra_cols=tuple(key_cols), out_name="_hll_v")
    blobs = sketch_by_key(prepped, key_cols, "_hll_v",
                          lambda: HyperLogLog(p))
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in prepped.schema.fields if f.name in key_cols)

    def estimate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[key_cols].copy()
            out["approx_distinct"] = np.asarray(
                [round(sketch_from_bytes(bytes(b)).estimate())
                 for b in pdf["sketch"]], dtype=np.int64)
            yield out

    return blobs.mapInPandas(estimate,
                             schema=key_schema + ", approx_distinct long")
