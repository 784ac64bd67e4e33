"""Distributed as-of join: for each left row, the latest right row at
or before it in time, per key.

The temporal primitive a web-corpus pipeline keeps reinventing: join
every page fetch to the robots.txt snapshot in force when it was
crawled, every event to the most recent config/model checkpoint,
every document to the licence text current at its `warc_ts`.  Spark
has no built-in as-of join; the naive encoding — an inequality join
``l.t >= r.t`` plus a per-pair argmax — plans as a broadcast nested
loop (or a range join at best) whose candidate set is O(|L| x
matches) and explodes exactly when the right side has history.

This implementation is the union+window form, ONE shuffle total:

1. tag and union the two sides (left rows carry null right-payload,
   right rows carry their payload);
2. one window per key ordered by ``(time, tag)`` — right rows sort
   BEFORE left rows at equal time, so at-or-before is inclusive —
   where ``last_value(payload, ignoreNulls) OVER (... ROWS UNBOUNDED
   PRECEDING)`` carries the newest right payload forward;
3. keep left rows; rows with no prior right row keep nulls (left-join
   semantics), and an optional ``tolerance`` nulls matches older than
   the window.

Scale shape at 10^12 rows: the single exchange is keyed by ``on`` —
the union shuffles each row once (16-byte key + payload), the window
sort runs per key-partition, and there is NO candidate blowup: cost
is O((|L|+|R|) log(partition)) regardless of history depth.  A
pathologically hot key serializes its own window partition (the
ordering is semantic, so salting cannot split it without a second
pass); shard such keys upstream by a coarser time bucket if one key
dominates.  Tag + carried columns are pruned before the exchange, so
the shuffle carries only what the join returns.

DuckDB's native ``ASOF JOIN`` (same greatest-lower-bound semantics,
inclusive) serves as the oracle for the driver query.

The reference library (FastFilter/xor_singleheader) has no temporal join;
this extends the training-data pipeline layer mandated alongside
SURVEY.md §2 (packing.py precedent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join"]

_TAG = "_ff_asof_tag"


def _q(name: str):
    """Literal column reference: F.col('meta.v') parses the dot as
    struct access (layout.py precedent); backticks resolve verbatim,
    with inner backticks escaped by doubling."""
    from pyspark.sql import functions as F
    return F.expr("`" + name.replace("`", "``") + "`")


def _bucket_id(dt, tname: str, width: float | int) -> Column:
    """Floor-division time bucket over the column named ``tname``,
    exact for integral times: ``(t - pmod(t, w)) / w`` through
    DECIMAL(38,0) is a true floor for negative times too (pmod is
    non-negative), unlike SQL ``DIV`` which truncates toward zero, and
    never routes the exactly-divisible difference through float64.
    ``width`` is in the column's own units for numeric times, SECONDS
    for timestamp kinds, DAYS for dates.  Timestamp_NTZ uses wall-clock
    timestampdiff, not a timezone cast (sessions.py:56 precedent — a
    cast would shift across DST)."""
    from pyspark.sql.types import (DateType, FractionalType,
                                   TimestampNTZType, TimestampType)
    if width <= 0:
        raise ValueError("bucket width must be positive")
    tcol = _q(tname)
    if isinstance(dt, TimestampType):
        n, w = F.unix_micros(tcol), int(round(width * 1_000_000))
    elif isinstance(dt, TimestampNTZType):
        n = F.expr("timestampdiff(MICROSECOND, "
                   "TIMESTAMP_NTZ'1970-01-01 00:00:00', "
                   "`" + tname.replace("`", "``") + "`)")
        w = int(round(width * 1_000_000))
    elif isinstance(dt, DateType):
        n, w = F.unix_date(tcol), width
    else:
        n, w = tcol, width
    if isinstance(w, int) and w < 1:
        # a sub-unit width rounds to 0 after conversion: pmod(n, 0)
        # would NULL every bucket (or raise under ANSI), silently
        # collapsing the window back to one partition per key
        raise ValueError(
            f"bucket width {width!r} is below the column's resolution "
            f"(converts to {w} base units); use a width >= 1 unit")
    if isinstance(dt, FractionalType) or not isinstance(w, int):
        # float time or fractional width: float floor is the semantics
        return F.floor(n / F.lit(w)).cast("long")
    base = (n - F.pmod(n, F.lit(w))).cast("decimal(38,0)")
    return (base / F.lit(w)).cast("long")


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_time: str, right_time: str,
              right_cols: list[str] | None = None,
              suffix: str = "_r",
              tolerance: Column | None = None,
              bucket: float | int | None = None) -> DataFrame:
    """Left as-of join: every ``left`` row plus the ``right_cols`` of
    the newest ``right`` row with ``right[right_time] <=
    left[left_time]`` on the same ``on`` key (inclusive; ties take
    the right row).  Unmatched left rows keep null right columns.
    Null ``on`` keys match each other, on the bucketed path too (both
    windows group nulls together).

    ``right_cols`` defaults to every right column except ``on`` and
    ``right_time``; each is emitted as ``<name><suffix>`` (the
    matched timestamp itself is always included as
    ``<right_time><suffix>`` so callers can compute staleness).
    ``tolerance``: optional INTERVAL Column — matches where
    ``left_time - right_time > tolerance`` are nulled out (the match
    existed but is too stale).

    ``bucket``: hot-key mitigation.  The default window serializes each
    key's rows into ONE partition — correct, but a key holding 90% of
    the input runs on one core.  With ``bucket`` set, the window is
    keyed by ``(on, time_bucket)`` instead, so a hot key parallelizes
    across its time range, at the price of a two-step plan: a bucket-
    level summary window (one row per (key, occupied bucket)) carries
    each bucket's newest right payload into the NEXT bucket as a seed
    row, then the main window runs within ``(key, bucket)`` partitions.
    Results are identical to the unbucketed path (same tie-breaks) —
    except when the payload contains a non-orderable (map) column, where
    BOTH paths already resolve duplicate-(key, time) right rows
    arbitrarily (see the tie-break note below) and the two paths may
    pick different arbitrary winners.
    ``bucket`` is a width: in the time column's own units for numeric
    times, in SECONDS for timestamp/timestamp_ntz columns.  Pick it so
    a hot key's densest bucket still fits one task — e.g. hourly
    buckets for a crawl that fetches a dominant host all day.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns
                      if c not in (on, right_time)]
    carried = [right_time] + [c for c in right_cols if c != right_time]
    out_names = {c: f"{c}{suffix}" for c in carried}
    clash = set(out_names.values()) & set(left.columns)
    if clash:
        raise ValueError(
            f"suffixed right columns {sorted(clash)} collide with left "
            f"columns; pass a different suffix")
    for rc in (_TAG, "_ff_t", "_ff_payload", "_ff_m", "_ff_bkt", "_ff_s",
               "_ff_rk", "_ff_rb"):
        if rc in left.columns or rc in right.columns:
            raise ValueError(
                f"reserved column {rc!r} present in input; rename it")

    # the carried payload travels as ONE struct so a single last_value
    # scan serves every carried column (N windows would re-sort N
    # times); left rows contribute a null struct, which ignoreNulls
    # skips
    payload = F.struct(*[_q(c).alias(c) for c in carried]).alias("_ff_payload")
    # a right row with NO timestamp can never satisfy rt <= t (SQL
    # comparison semantics; DuckDB's native ASOF agrees) — but a NULL
    # would sort FIRST in the window and be carried into every later
    # row, so it must be dropped, not sorted.  A null-time LEFT row
    # sorts first and therefore matches nothing: null columns out.
    r = right.where(_q(right_time).isNotNull()).select(
        _q(on).alias(on), _q(right_time).alias("_ff_t"),
        F.lit(0).alias(_TAG), payload)
    l_side = left.select(
        "*", _q(left_time).alias("_ff_t"),
        F.lit(1).alias(_TAG),
        F.lit(None).cast(r.schema["_ff_payload"].dataType)
        .alias("_ff_payload"))
    # align schemas in ONE projection (a per-column withColumn loop
    # builds O(n) nested projections — quadratic analyzer cost on wide
    # left schemas): right rows carry nulls for the left columns
    r = r.select(
        "*", *[F.lit(None).cast(left.schema[c].dataType).alias(c)
               for c in left.columns if c != on])
    unioned = r.select(l_side.columns).unionByName(l_side)

    # payload as the final sort key: two right rows sharing (key, time)
    # would otherwise resolve by partition-scheduling luck — struct
    # ordering is lexicographic over the carried fields, so the
    # greatest payload wins deterministically (identical payloads are
    # interchangeable).  MapType is not orderable in Spark: when any
    # carried field contains a map, the tie-break is omitted and
    # duplicate-(key, time) right rows resolve arbitrarily — exclude
    # map columns via right_cols (or pre-collapse duplicates) when
    # that determinism matters.
    def _orderable(dt) -> bool:
        from pyspark.sql.types import ArrayType, MapType, StructType
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    payload_orderable = _orderable(r.schema["_ff_payload"].dataType)
    # nulls-first is Spark's asc default; explicit because the bucketed
    # path RELIES on it (seed rows carry a null time and must sort
    # before every real row in their bucket)
    order = [F.col("_ff_t").asc_nulls_first(), F.col(_TAG).asc()]
    if payload_orderable:
        order.append(F.col("_ff_payload").asc())

    if bucket is None:
        w = (Window.partitionBy(_q(on))
             .orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        matched = (unioned
                   .withColumn("_ff_m",
                               F.last("_ff_payload",
                                      ignorenulls=True).over(w))
                   .where(F.col(_TAG) == 1))
    else:
        unioned = unioned.withColumn(
            "_ff_bkt", _bucket_id(unioned.schema["_ff_t"].dataType,
                                  "_ff_t", bucket))
        # bucket-level carry: one summary row per (key, right-occupied
        # bucket) — the newest right (time, payload) struct in that
        # bucket — then a window over the OCCUPIED buckets (left or
        # right) carries the newest summary from strictly earlier
        # buckets forward as that bucket's seed.  Every frame here is
        # bucket-granular: a hot key contributes one row per bucket,
        # not per input row.
        if payload_orderable:
            newest = F.max(F.struct("_ff_t", "_ff_payload")) \
                      .getField("_ff_payload")
        else:
            # same arbitrary-among-equal-times caveat as the main
            # window's tie-break (docstring above)
            newest = F.max_by("_ff_payload", "_ff_t")
        rsum = (unioned.where(F.col(_TAG) == 0)
                .groupBy(_q(on).alias("_ff_rk"), "_ff_bkt")
                .agg(newest.alias("_ff_s"))
                .withColumnRenamed("_ff_bkt", "_ff_rb"))
        occupied = unioned.select(_q(on).alias(on), "_ff_bkt").distinct()
        wseed = (Window.partitionBy(_q(on)).orderBy("_ff_bkt")
                 .rowsBetween(Window.unboundedPreceding, -1))
        # null-safe on the key: both windows group null keys together,
        # so a null key carries its seed like any other key (a plain
        # equi-join would drop it and lose cross-bucket matches the
        # unbucketed path returns)
        seed_on = (_q(on).eqNullSafe(F.col("_ff_rk"))
                   & (F.col("_ff_bkt") == F.col("_ff_rb")))
        seeds = (occupied.join(rsum, seed_on, "left")
                 .select(_q(on).alias(on), "_ff_bkt",
                         F.last("_ff_s", ignorenulls=True).over(wseed)
                          .alias("_ff_payload"))
                 .where(F.col("_ff_payload").isNotNull()))
        # seed -> synthetic right row at the bucket's start: null time
        # sorts first (asc_nulls_first), so any real right row in the
        # bucket overrides it and a left row with no in-bucket
        # predecessor falls back to it
        seed_rows = seeds.select(
            _q(on).alias(on), "_ff_bkt", "_ff_payload",
            F.lit(None).cast(unioned.schema["_ff_t"].dataType)
             .alias("_ff_t"),
            F.lit(0).alias(_TAG),
            *[F.lit(None).cast(left.schema[c].dataType).alias(c)
              for c in left.columns if c != on])
        w = (Window.partitionBy(_q(on), F.col("_ff_bkt"))
             .orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        matched = (unioned.unionByName(seed_rows)
                   .withColumn("_ff_m",
                               F.last("_ff_payload",
                                      ignorenulls=True).over(w))
                   .where(F.col(_TAG) == 1))
    # getField resolves names literally — F.col("_ff_m.meta.ts") would
    # parse the dots as nested struct access (layout.py precedent)
    if tolerance is not None:
        matched = matched.withColumn(
            "_ff_m",
            F.when(F.col("_ff_m").getField(right_time)
                   >= _q(left_time) - tolerance, F.col("_ff_m")))
    return matched.select(
        *left.columns,
        *[F.col("_ff_m").getField(c).alias(out_names[c])
          for c in carried])
