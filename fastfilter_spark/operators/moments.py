"""Frequency-moment estimation as DataFrame algebra: a distributed
AMS/count-sketch F2 (self-join size) over a key column.

F2 = sum over distinct keys of count², the quantity that prices a
groupBy or self-join on that key (expected matched rows per probe =
F2/n) and measures its skew — computed WITHOUT a per-key groupBy.
The exact computation at 10^12 rows shuffles every distinct key; this
operator shuffles ``depth * width`` signed counters (a few KB), built
from map-side partial sums.

Estimator (Alon-Matias-Szegedy 1996, count-sketch form of
Charikar-Chen-Farach-Colton 2002): for each of ``depth`` independent
hash rows, every key adds sign(key) to one of ``width`` counters; the
row's sum of squared counters is an unbiased F2 estimate with relative
standard error sqrt(2/width); the output is the row MEDIAN (lower
middle for an even depth, so everything stays in exact integer
arithmetic).

Like operators/kmv.py this is deliberately NOT the byte-blob sketch
(functions/sketches.py:AMS serves streaming/multi-sketch folds): the
DataFrame form keeps the whole plan in JVM codegen — ONE md5
digest per key sliced into per-row bit fields, sign/bucket arithmetic,
two map-side-combined aggregations — with no Python in the hot path,
and the portable md5-substring hash makes the result bit-reproducible
in any SQL engine (the driver's DuckDB oracle runs the same algebra
verbatim).

The reference (FastFilter/xor_singleheader) has no moment sketches;
this extends the library's mergeable-sketch family per
BASELINE.json:north_rule (merge associativity holds trivially: counter
sums commute with any partition order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ams_f2_counters", "ams_f2"]


def ams_f2_counters(df: DataFrame, key_col: str, width: int = 256,
                    depth: int = 5) -> DataFrame:
    """The sketch itself as a DataFrame: ``(row, bucket, c)`` with
    ``c = sum of signs`` — at most ``depth * width`` rows regardless of
    input size.  Buckets nobody hit are absent (their counter is 0).

    Hash economy: ONE md5 digest serves up to 8 sketch rows — the
    128-bit digest is sliced into disjoint 16-bit hex fields (4 hex
    chars each), and each field yields a row's bucket (its top 15 bits,
    ``pmod width``) and sign (its low bit).  Digest j hashes the salted
    ``key:j`` (j = 0 included), and only every 9th row costs another
    md5, so the default depth=5 pays 1 md5 per key instead of 5.  The
    salt keeps digest inputs injective: j is the only all-digit field
    after the last ``:``, so key ``"a:1"``'s digest 0 never equals key
    ``"a"``'s digest 1.  The digest is physically named in its own
    projection, so the cost model does not depend on codegen
    subexpression elimination.  Distinct md5 output bits are
    independent, so bucket/sign within and across rows are too; width
    is required to divide 2^15 (i.e. a power of two) so the bucket is
    EXACTLY uniform — a non-dividing width would bias buckets and
    silently break the sqrt(2/width) error contract.

    Plan shape: a first projection computes the digest(s) per key (JVM
    codegen), a second slices fields and ``explode`` fans them out, and
    ONE hash aggregation with map-side partial sums reduces to the
    counter table.  Null keys are ignored (contribute to no counter),
    matching the null policy of every other sketch here.
    """
    if width < 2 or depth < 1:
        raise ValueError("need width >= 2, depth >= 1")
    if width > 32768 or 32768 % width:
        # the bucket draws from a 15-bit field; a width that does not
        # divide 2^15 would bias buckets by up to width/2^15 and
        # silently break the sqrt(2/width) error contract — reject it
        # loudly (powers of two up to 2^15 are exactly uniform)
        raise ValueError("width must be a power of two <= 32768 "
                         "(the 15-bit bucket field must split evenly)")
    k = F.col(key_col).cast("string")
    ndig = (depth + 7) // 8
    digests = [
        F.md5(F.concat(k, F.lit(f":{j}"))).alias(f"_d{j}")
        for j in range(ndig)]
    # 16-bit field for row i: hex chars [1+4*(i%8), 4] of digest i//8
    fields = {
        i: F.conv(F.substring(F.col(f"_d{i // 8}"), 1 + 4 * (i % 8), 4),
                  16, 10).cast("long")
        for i in range(depth)}
    rows = F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            F.pmod(F.shiftrightunsigned(fields[i], 1), F.lit(width))
             .alias("bucket"),
            (F.lit(1) - F.lit(2) * F.pmod(fields[i], F.lit(2)))
            .alias("sign"),
        ) for i in range(depth)])
    return (df.where(F.col(key_col).isNotNull())
            .select(*digests)
            .select(F.explode(rows).alias("e"))
            .groupBy(F.col("e.row").alias("row"),
                     F.col("e.bucket").alias("bucket"))
            .agg(F.sum("e.sign").cast("long").alias("c")))


def ams_f2(df: DataFrame, key_col: str, width: int = 256,
           depth: int = 5) -> DataFrame:
    """One-row F2 estimate: ``(f2_est, width, depth)``, all BIGINT.

    Row sums of squares accumulate in DECIMAL(38,0) (a counter can
    reach n, so its square can pass int64 at 10^10+ rows); the median
    picks row ``(depth-1)//2`` of the sorted row estimates — exact
    integer arithmetic end to end, same policy as kmv_distinct.
    """
    counters = ams_f2_counters(df, key_col, width=width, depth=depth)
    per_row = counters.groupBy("row").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
         .alias("row_est"))
    # agg (not a window) so an EMPTY input still yields one row with
    # f2_est = 0; collect_list holds <= depth scalars, array_sort makes
    # the median deterministic, F.get is null (not an ANSI error) when
    # the list is short
    med_idx = (depth - 1) // 2
    return per_row.agg(
        F.coalesce(
            F.get(F.array_sort(F.collect_list("row_est")), med_idx),
            F.lit(0).cast("decimal(38,0)"))
        .cast("long").alias("f2_est"),
        F.lit(width).cast("long").alias("width"),
        F.lit(depth).cast("long").alias("depth"))
