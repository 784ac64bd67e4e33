"""KMV (k-minimum-values / bottom-k) sketch: mergeable distinct-count
and Jaccard estimation over a key column.

The sketch keeps the ``k`` smallest distinct 64-bit hash values of a
key set.  Because "the k smallest of a union is the k smallest of the
union of per-part k-smallest sets", the sketch is trivially mergeable
in ANY partition order — the associativity property
BASELINE.json:north_rule requires of every sketch in this library (the
reference, FastFilter/xor_singleheader, has no KMV; the published
algorithm is Bar-Yossef et al. 2002, with the unbiased estimator
``(k-1) * H / h_k`` analysed in Beyer et al. 2007 and the bottom-k
Jaccard estimator in Cohen & Kaplan 2007).

Unlike the byte-blob sketches in functions/sketches.py, KMV is
expressed directly as DataFrame algebra, which buys three things at
100 TB:

- **Map-side reduction to O(k) rows per fold task** before any
  shuffle: native/SketchFold.java's ``bottomK``, a narrow
  ``Dataset.mapPartitions`` inside Spark's JVM, folds each task's rows
  into its running bottom-k, so the merge exchange moves
  ``<= k * fold_tasks`` 8-byte rows instead of the distinct key set
  (the groupBy-distinct alternative shuffles every distinct key —
  terabytes at 10^12 keys).  Fold tasks are sized by input bytes, not
  scan splits (``plans.size_python_fold``): every task has a fixed
  start-up cost, so a small input folds in
  ``ceil(bytes / spark.sql.files.openCostInBytes)`` tasks while a large
  one keeps one task per input partition.  A one-task fold needs no
  merge and no exchange at all.
- **Everything after the fold is exact integer arithmetic** (the
  estimator divides in DECIMAL(38,0) / HUGEINT), so results are
  bit-identical under any partitioning and hash-checkable by a DuckDB
  oracle — no float drift, same policy as operators/graph.py:pagerank.
- **Engine-portable hashing**: the default hash is the first 15 hex
  chars of md5 (60 bits, positive in int64), computed by JVM codegen
  in Spark (`conv(substring(md5(k),1,15),16,10)`) and reproducible in
  any SQL engine with md5 — the property that makes the driver's
  oracle comparison possible.  Callers that don't need portability can
  pass ``hash_expr=F.xxhash64(...)`` with ``hmax=None`` (signed-order
  caveat documented below).

Accuracy: relative error of the distinct estimate is ~ 1/sqrt(k-2)
(Beyer et al. 2007); the Jaccard estimate m/k is unbiased with
standard error ~ sqrt(J(1-J)/k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastfilter_spark.operators.dist import _jvm_factory
from fastfilter_spark.plans import fold_partitions, size_python_fold

__all__ = ["portable_hash60", "bottomk_hashes", "kmv_distinct",
           "kmv_jaccard", "HMAX60"]

#: exclusive upper bound of :func:`portable_hash60` (60-bit hash space)
HMAX60 = 1 << 60


def portable_hash60(col) -> "F.Column":
    """60-bit uniform hash of a column, identical in Spark and DuckDB:
    ``conv(substring(md5(CAST(x AS STRING)), 1, 15), 16, 10)`` as
    BIGINT.  Non-string inputs hash their canonical decimal rendering
    (DuckDB twin: ``portable_hash60_sql("CAST(x AS VARCHAR)")``).

    15 hex chars keep the value positive in int64 (so signed and
    unsigned order agree) while leaving collision mass negligible for
    estimation: ~4e5 colliding pairs among 10^12 keys (n^2 / 2^61),
    a 4e-7 relative perturbation of the distinct estimate.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """``portable_hash60`` as DuckDB SQL over the SQL expression
    ``expr`` (a VARCHAR; cast other types first), for the oracles that
    replay a hashed operator."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def bottomk_hashes(df: DataFrame, key_col: str, k: int,
                   hash_expr=None) -> DataFrame:
    """The ``k`` smallest distinct hash values of ``df[key_col]`` as a
    single-column DataFrame ``h: long`` (``< k`` rows when the input
    has fewer distinct keys; null keys are ignored).

    Plan shape: one narrow JVM ``mapPartitions`` pass folds every fold
    task's rows to its own k smallest distinct hashes in signed order,
    as ``np.unique`` orders int64 (a buffer of at least 2k values
    sorted, deduplicated and cut to k when it fills; once k are kept, a
    hash at or above the k-th is dropped on arrival).  When the fold
    sizing runs it as one task (``plans.fold_partitions`` is 1), those
    rows are the answer and the plan has no exchange; otherwise one
    more bottom-k pass over the ``<= k * fold_tasks`` partials, gathered
    into one partition, merges them.  No wide exchange of the key set
    ever happens; the rows come in ascending ``h`` order.
    """
    partials, one_task = _bottomk_partials(df, key_col, k, hash_expr)
    return partials if one_task else _merge_bottomk(partials, k)


def _bottomk(hashes: DataFrame, k: int) -> DataFrame:
    """Each task's k smallest distinct values of ``hashes``' first
    column, as ascending ``h: long`` rows (native/SketchFold.java)."""
    spark = hashes.sparkSession
    return DataFrame(_jvm_factory(spark, "SketchFold").bottomK(
        hashes._jdf, k), spark)


def _merge_bottomk(partials: DataFrame, k: int) -> DataFrame:
    """The bottom-k of bottom-k partials: one more pass over them, in
    one partition (the same hash may sit in several partials)."""
    return _bottomk(partials.repartition(1), k)


def _bottomk_partials(df: DataFrame, key_col: str, k: int,
                      hash_expr=None) -> tuple[DataFrame, bool]:
    """Each fold task's own bottom-k as ``h: long`` rows, and whether
    the fold runs as one task."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = hash_expr if hash_expr is not None \
        else portable_hash60(F.col(key_col))
    hashed = df.select(h.alias("h")).where(F.col("h").isNotNull())
    return (_bottomk(size_python_fold(hashed), k),
            fold_partitions(hashed) == 1)


def kmv_distinct(df: DataFrame, key_col: str, k: int = 1024,
                 hash_expr=None, hmax: int = HMAX60) -> DataFrame:
    """One-row distinct-count estimate: ``(n_min, kth_hash,
    distinct_est)``, all BIGINT.

    ``distinct_est = (k-1) * hmax DIV kth_hash`` (Beyer et al. 2007
    unbiased estimator) computed in DECIMAL(38,0) so the product never
    overflows and the result is bit-exact.  When fewer than ``k``
    distinct keys exist the sketch IS the key set and the exact count
    is returned (``kth_hash`` still reports the max retained hash).
    ``hmax`` is the exclusive hash-space bound — pass the right one if
    you override ``hash_expr`` (xxhash64 output is signed, so it needs
    a bias to 2^64 first; the default portable hash avoids all that).
    """
    bk = bottomk_hashes(df, key_col, k, hash_expr=hash_expr)
    agg = bk.agg(F.count("h").alias("n_min"), F.max("h").alias("kth_hash"))
    est = F.expr(
        f"CAST(CAST({k - 1} AS DECIMAL(38,0)) * {int(hmax)} "
        "DIV kth_hash AS BIGINT)")
    return agg.select(
        "n_min", "kth_hash",
        F.when(F.col("n_min") < k, F.col("n_min"))
         .otherwise(est).alias("distinct_est"))


def kmv_jaccard(df_a: DataFrame, df_b: DataFrame, key_col: str,
                k: int = 256, hash_expr=None) -> DataFrame:
    """One-row bottom-k Jaccard estimate between two key sets:
    ``(union_k, matches, jaccard_e6)``, all BIGINT.

    ``B_k(A ∪ B)`` is derived by merging the two sketches (bottom-k of
    their union — no second pass over the data), and ``matches`` counts
    its members present in BOTH per-set sketches;
    ``jaccard_e6 = matches * 1_000_000 DIV union_k`` (Cohen & Kaplan
    2007).  Every count is exact given the hashes, so the result is
    engine-reproducible.  The final joins touch <= k rows per side.
    """
    ba = bottomk_hashes(df_a, key_col, k, hash_expr=hash_expr)
    bb = bottomk_hashes(df_b, key_col, k, hash_expr=hash_expr)
    bu = _merge_bottomk(ba.union(bb), k)
    both = (bu.join(ba, "h", "left_semi")
              .join(bb, "h", "left_semi"))
    est = F.expr("CAST(CAST(matches AS DECIMAL(38,0)) "
                 "* 1000000 DIV union_k AS BIGINT)")
    return (bu.agg(F.count("h").alias("union_k"))
            .crossJoin(both.agg(F.count("h").alias("matches")))
            .select("union_k", "matches",
                    # both inputs empty -> union_k = 0; avoid the ANSI
                    # division-by-zero error and define J(∅,∅) = 0
                    F.when(F.col("union_k") == 0, F.lit(0).cast("long"))
                     .otherwise(est).alias("jaccard_e6")))
