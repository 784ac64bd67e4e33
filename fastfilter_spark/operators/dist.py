"""Distributed sharded xor / binary-fuse filter construction on Spark.

The reference library (FastFilter/xor_singleheader) builds one filter per
process over an in-memory ``uint64_t*`` array (populate signatures at
/root/reference/include/xorfilter.h:659 and
/root/reference/include/binaryfusefilter.h:280).  Hypergraph peeling is a
sequential global fixpoint, so the idiomatic distributed construction is
*sharded*: route every key to one of S independent sub-filters by a
stable hash, build each shard entirely inside one task with the exact
reference algorithm, and define the distributed filter as the sharded
collection.  The shard build runs inside Spark's JVM as one typed
aggregate, ``groupBy(shard).agg(...)`` of the compiled
native/FilterBuild.java, whose buffer is a primitive ``long[]`` of the
shard's keys and whose finish is the build, byte-identical to
operators/local.py (``build_filter_rows``).  Each shard is a bona-fide
reference filter over that shard's keys, so the per-shard fpp /
bits-per-entry guarantees carry over unchanged and the overall fpp
bound is identical.

Scale design notes (targeting a 10^12-key Iceberg table, tested locally):

- ONE shuffle total: keys are repartitioned by shard id once; per-shard
  deduplication happens inside the shard build (an unsigned sort, as
  ``np.unique`` does; a key's shard is a pure function of the key, so
  shard-local dedup is globally exact).  No separate ``dropDuplicates``
  pass — that would add a second full shuffle on the raw keys.
- Shard count is chosen from the input's row count, duplicates
  included, as the reference sizes a filter by the raw key count it is
  handed: a shard then buffers at most about ``target_keys_per_shard``
  rows, and its keys + construction scratch fit in one executor task.
  For a file scan the count reads parquet footers, not the keys.
  Default target 2^22 rows/shard (SCALE.md gives the heap it needs).
- Shard ids are ``pmod(xxhash64(key), 2^bits)`` with Spark's own
  xxhash64 (``keys_with_shard``, ``shard_of_hash``) — uniform for any
  input distribution, and skew-free because the route hash is
  independent of the per-shard build seeds.  Hot-key skew in
  the *input* (e.g. duplicate urls) is absorbed by in-kernel dedup; true
  volume skew is split by AQE skew-partition handling upstream.
- The result is tiny relative to the input (~1.1 byte/key for 8-bit
  fingerprints), persisted as one row per shard ``(shard, kind, payload
  binary, lineage...)`` in a parquet "filter table", and broadcast for
  probe-side use.
- Every Spark-side probe is native/FilterProbe.java over the payloads
  as stored (compiled with FilterBuild.java into one jar, native.py):
  route each probe key by the same hash prefix, gather 3 or 4
  fingerprint cells, xor, compare — the key never crosses into Python.
  ``broadcast_probe`` (``df.filter(sf.contains_udf(spark)(col))``, and
  sketch_agg.bloom_contains_udf) is a broadcast left-semi join with the
  exact hash table replaced by a 9-bit/key approximate one;
  ``probe_via_join`` cogroups the keys with the filter table by shard.

Checkpoint (BASELINE.json:north_rule): ``build_sharded`` with a
``checkpoint_dir`` writes the built rows to that parquet directory in
one write job, then a build manifest (``_filter_build.json``: kind,
shard count, arity, input fingerprint) through the session's Hadoop
FileSystem.  Spark's default committer (FileOutputCommitter, algorithm
version 1) publishes a job's files only when the whole job commits, so
a build that fails part-way leaves no readable row and no manifest, and
its rerun builds every shard.  The reference builds each filter once
over the whole key set, so the unit a rerun reuses is a whole committed
build: a directory with a manifest that matches the request and the
input is returned as it stands; one holding files but no manifest is
refused, never extended.  Per-shard lineage (input_rows, distinct keys,
seed, build_ms) is stored alongside the payload.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.functions import native
from fastfilter_spark.operators.local import empty_filter, filter_from_bytes

# One row per shard; `payload` is the reference wire format (to_bytes).
FILTER_TABLE_SCHEMA = StructType([
    StructField("shard", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("num_shards", IntegerType(), False),
    StructField("input_rows", LongType(), False),      # rows fed to the kernel
    StructField("distinct_keys", LongType(), False),   # after in-kernel dedup
    StructField("seed", LongType(), False),            # winning seed (2's-compl)
    StructField("size_bytes", LongType(), False),
    StructField("build_ms", DoubleType(), False),
    StructField("payload", BinaryType(), False),
])
# what FilterBuild's aggregate returns per shard; groupBy adds the shard
_BUILD_ROW_SCHEMA = StructType(FILTER_TABLE_SCHEMA.fields[1:])


def _input_fingerprint(df: DataFrame) -> str | None:
    """Cheap dataset identity for a checkpoint rerun: sha256 over the
    scan's file listing (path + size + mtime where the file is locally
    stat-able).  Metadata-only — no Spark job runs.  Returns ``None``
    when the plan has no file scan (in-memory input) or listing fails;
    a rerun then falls back to the authoritative per-shard recount.

    Paths are content-addressed in practice (parquet part files carry
    writer UUIDs), so a matching listing means the same dataset unless
    someone rewrote a file IN PLACE with the same name — stat info
    catches that for local files; for remote filesystems a same-name
    in-place rewrite is the one case this fast path cannot see (pin the
    read to a snapshot, SCALE.md).

    The hash also covers the NORMALIZED analyzed plan (expression ids
    stripped — they vary per session): two different queries over the
    same files (e.g. a filtered subset vs the full table) are different
    datasets and must not share a fingerprint."""
    import hashlib
    import re
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    h = hashlib.sha256()
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    h.update(re.sub(r"#\d+", "", plan).encode())
    for f in sorted(files):
        h.update(f.encode())
        local = f[7:] if f.startswith("file://") else (
            f[5:] if f.startswith("file:") else f)
        try:
            st = os.stat(local)
            h.update(f",{st.st_size},{st.st_mtime_ns};".encode())
        except OSError:
            h.update(b";")
    return h.hexdigest()


# the manifest a checkpoint_dir holds once its build committed; Spark's
# parquet reader skips _-prefixed names, so it never enters a table read
_MANIFEST = "_filter_build.json"


def _checkpoint_paths(spark: SparkSession, checkpoint_dir: str):
    """(Hadoop FileSystem, directory Path, manifest Path) of
    ``checkpoint_dir`` under the session's Hadoop conf, so a local path,
    file://, hdfs:// and s3a:// are read and written alike."""
    sc = spark.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path
    directory = path(checkpoint_dir)
    return (directory.getFileSystem(sc._jsc.hadoopConfiguration()),
            directory, path(directory, _MANIFEST))


def _read_manifest(fs, manifest) -> dict | None:
    if not fs.exists(manifest):
        return None
    stream = fs.open(manifest)
    try:
        return json.loads(bytes(stream.readAllBytes()))
    finally:
        stream.close()


def _write_manifest(fs, manifest, fields: dict) -> None:
    stream = fs.create(manifest, True)
    try:
        stream.write(json.dumps(fields).encode())
    finally:
        stream.close()


def _holds_files(fs, directory) -> bool:
    """Whether ``directory`` holds a name Spark's file listing reads
    (one not starting with ``_`` or ``.``)."""
    return fs.exists(directory) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(directory))


def shard_of_hash(keys_u64: np.ndarray, shard_bits: int) -> np.ndarray:
    """Shard id = pmod(xxhash64(key), 2^shard_bits).

    xxhash64 because Spark has it as a JVM built-in — the build path
    computes the shard column with zero Python (see keys_with_shard) —
    and kernels.xxhash64_long reproduces it bit-identically for
    probe-side routing.  Independent of the per-shard splitmix build
    seeds, so routing never correlates with construction success.
    """
    if shard_bits == 0:
        return np.zeros(len(keys_u64), dtype=np.int32)
    h = K.xxhash64_long(np.asarray(keys_u64)).view(np.int64)
    return (h % (1 << shard_bits)).astype(np.int32)  # numpy % is pmod


def broadcast_probe(spark: SparkSession, payload) -> "_JvmProbe":
    """The library's one broadcast probe: a ``long -> boolean`` Column
    function over ``payload``, a ShardedFilter of an xor/fuse kind or a
    ``sketches.Bloom``, evaluated inside Spark's JVM by
    native/FilterProbe.java.  A null key is never a member: it probes
    False.

    The jar (``native.probe_jar``) is added to the session once (``ADD
    JAR``).  One JVM Broadcast carries the payloads as stored, which
    FilterProbe parses once per executor; it routes each key by Spark's
    own xxhash64, as the build does."""
    factory = _jvm_factory(spark, "FilterProbe")
    if isinstance(payload, ShardedFilter):
        payloads, kind = payload.payloads, payload.kind
    else:
        payloads, kind = [payload.to_bytes()], "bloom"
    bc = spark.sparkContext._jsc.broadcast(list(payloads))
    return _JvmProbe(spark.sparkContext, factory.udf(bc, kind))


def _jvm_factory(spark: SparkSession, name: str):
    """The session's driver-side factory of the jar class ``name``
    (``FilterProbe``, ``FilterBuild`` or ``SketchFold``), looked up
    through the session's jar class loader, which ``ADD JAR`` extends,
    whatever py4j thread asks.  Raises RuntimeError when the session has
    no py4j JVM or the jar does not compile (``native.probe_jar``)."""
    jar = native.probe_jar(spark)
    sc = spark.sparkContext
    if os.path.basename(jar) not in sc._jsc.sc().listJars().mkString(" "):
        spark.sql(f"ADD JAR '{jar}'")
    jvm, gateway = sc._jvm, sc._gateway
    cls = jvm.java.lang.Class.forName(
        f"fastfilter_spark.{name}", True,
        spark._jsparkSession.sharedState().jarClassLoader())
    return cls.getConstructor(gateway.new_array(jvm.java.lang.Class, 0)) \
        .newInstance(gateway.new_array(jvm.java.lang.Object, 0))


class _JvmProbe:
    """A compiled JVM probe UDF as a Column function: ``probe(col)``
    casts the key column to long."""

    def __init__(self, sc, judf):
        self.sc = sc
        self.judf = judf

    def __call__(self, col) -> Column:
        key = (F.col(col) if isinstance(col, str) else col).cast(LongType())
        return _jvm_apply(self.sc, self.judf, key)


def _jvm_apply(sc, judf, *cols: Column) -> Column:
    """A JVM ``UserDefinedFunction`` applied to ``cols``."""
    from pyspark.sql.classic.column import (
        Column as JColumn, _to_java_column, _to_seq)
    return JColumn(judf.apply(_to_seq(sc, list(cols), _to_java_column)))


def choose_shard_bits(rows: int, target_keys_per_shard: int = 1 << 22,
                      max_bits: int = 16) -> int:
    """Smallest power-of-two shard count keeping each shard's share of
    ``rows`` input rows (duplicates included) under the target.

    A shard's build buffers every row routed to it, so the target bounds
    the build task's heap: ~56 B per key at the peel, and a 2^22-row
    shard builds in a 576 MB heap (SCALE.md).  Raise ``max_bits`` for
    10^12 rows (2^16 shards x 2^22 rows covers ~3x10^11; 2^20 shards
    covers 4x10^12).
    """
    if rows <= target_keys_per_shard:
        return 0
    return min(max_bits, max(0, math.ceil(
        math.log2(rows / target_keys_per_shard))))


def keys_with_shard(df: DataFrame, key_col: str, shard_bits: int) -> DataFrame:
    """Project to (key long, shard int) — entirely JVM-side.

    ``pmod(xxhash64(key), S)`` stays inside whole-stage codegen, so the
    scan -> project -> shuffle stage never crosses into Python, and the
    shard build or join probe after it runs in the JVM too.

    Null keys, and keys whose cast yields null (a malformed string with
    ANSI mode off), are dropped here, JVM-side: a null is never a
    member, so dropping it is exact, and the shard build and the join
    probe then read every key as a primitive long.
    """
    key = F.col(key_col).cast(LongType())
    return df.select(
        key.alias("key"),
        F.pmod(F.xxhash64(key), F.lit(1 << shard_bits))
        .cast(IntegerType()).alias("shard")).where(F.col("key").isNotNull())


@dataclass
class ShardedFilter:
    """A distributed filter = 2^shard_bits independent reference filters.

    ``payloads[i]`` is shard i's reference wire format; probe routing uses
    the same hash prefix as construction.
    """

    kind: str
    shard_bits: int
    payloads: list[bytes]

    @property
    def num_shards(self) -> int:
        return 1 << self.shard_bits

    # -- construction -----------------------------------------------------

    @classmethod
    def from_filter_table(cls, rows: Iterable) -> "ShardedFilter":
        rows = list(rows)
        if not rows:
            raise ValueError("empty filter table")
        num_shards = rows[0]["num_shards"]
        kind = rows[0]["kind"]
        by_shard: dict[int, bytes] = {}
        for r in rows:
            s = int(r["shard"])
            if s in by_shard:
                raise ValueError(
                    f"filter table has duplicate rows for shard {s} "
                    "(overlapping builds appending to one checkpoint_dir?)")
            by_shard[s] = bytes(r["payload"])
        missing = set(range(num_shards)) - set(by_shard)
        if missing:
            raise ValueError(
                f"filter table incomplete: missing shards "
                f"{sorted(missing)[:8]}... "
                "(use probe_via_join for partial tables)")
        return cls(kind=kind, shard_bits=int(math.log2(num_shards)),
                   payloads=[by_shard[s] for s in range(num_shards)])

    # -- probing ----------------------------------------------------------

    def contain_np(self, keys) -> np.ndarray:
        """Driver-side vectorized probe (for tests / small batches)."""
        keys = K.to_uint64(np.asarray(keys))
        out = np.zeros(keys.size, dtype=bool)
        shards = shard_of_hash(keys, self.shard_bits)
        for s in np.unique(shards):
            m = shards == s
            out[m] = filter_from_bytes(self.payloads[s], self.kind,
                                       view=True).contain(keys[m])
        return out

    def contains_udf(self, spark: SparkSession):
        """``long -> boolean`` Column function probing the broadcast
        filter (``broadcast_probe``; a null key probes False).

        A probe routes each key to its shard, then does 3 or 4 gathers
        + xor + compare (xorfilter.h:96-108, binaryfusefilter.h:178-187)
        inside Spark's JVM: the key column is cast to long and never
        reaches Python.
        """
        return broadcast_probe(spark, self)

    def register_sql_udf(self, spark: SparkSession,
                         name: str = "ff_contains"):
        """Expose the probe to pure-SQL users:
        ``spark.sql("SELECT * FROM t WHERE ff_contains(key)")``.

        Registers the JVM UDF :meth:`contains_udf` wraps; its SQL
        argument is an integral key (cast other key types in the
        query).  Re-registering under the same name replaces the
        previous filter — the SQL twin of rebinding a variable.
        Returns the registered name, so callers can thread it into
        query strings.
        """
        spark._jsparkSession.udf().register(
            name, self.contains_udf(spark).judf)
        return name

    # -- sizing -----------------------------------------------------------

    def size_in_bytes(self) -> int:
        return sum(len(p) for p in self.payloads)

    def bits_per_entry(self, n_keys: int) -> float:
        return self.size_in_bytes() * 8.0 / max(1, n_keys)


def _resolve_shard_bits(df: DataFrame, shard_bits: int | None,
                        target_keys_per_shard: int) -> int:
    """Explicit shard_bits, or sized from the input's row count: the
    exact upper bound on the keys one shard's build buffers, and for a
    file scan a metadata read, not a second pass over the keys."""
    if shard_bits is not None:
        return shard_bits
    return choose_shard_bits(df.count(), target_keys_per_shard)


def build_sharded_table(
    df: DataFrame,
    key_col: str,
    kind: str = "fuse8",
    shard_bits: int | None = None,
    target_keys_per_shard: int = 1 << 22,
    checkpoint_dir: str | None = None,
    arity: int = 3,
) -> DataFrame:
    """Build the filter TABLE without materializing payloads on the
    driver.

    ``build_sharded`` collects every shard payload to construct the
    broadcastable ``ShardedFilter`` — right for dim-table pruning (MBs),
    wrong for a 10^12-key filter (~1.1 TB of payloads through the
    driver, SCALE.md).  Callers that will probe with ``probe_via_join``
    (which receives one shard row per task and needs no driver copy)
    should use this instead: the result stays a DataFrame end-to-end —
    write it to parquet/Iceberg, read it back, join-probe it; nothing
    larger than the query plan ever lands on the driver.

    Without ``shard_bits`` the shard count is
    ``choose_shard_bits(df.count(), target_keys_per_shard)``: the
    target counts input rows, duplicates included, so it bounds what one
    shard's build buffers.  Shards that received zero keys produce no
    row (groupBy emits non-empty groups only); ``probe_via_join`` treats
    an absent shard as all-non-member, which is exact for an empty
    shard.  Plan shape (one shuffle; the shard column is JVM-side inside
    whole-stage codegen):

        scan -> select(key, shard = pmod(xxhash64(key), S))
             -> partial FilterBuild agg: long[] per shard  [map side]
             -> groupBy(shard)                             [THE shuffle]
             -> merge long[]s -> unique -> populate        [FilterBuild finish]
             -> 2^bits tiny rows

    With ``checkpoint_dir`` the directory holds exactly one committed
    build (module docstring).  Absent or without files, it gets the
    built rows, then the manifest.  With a manifest, a rerun returns the
    stored table, building nothing, once the request and the input
    match it: ``ValueError`` on another kind, shard count or arity, on
    a different input (the input fingerprint, else a per-shard recount
    of input rows) and on a stored payload that probes a current key
    False (a spot check of up to 256 keys).  A directory holding files
    but no manifest raises ``ValueError``; it is never overwritten or
    extended.
    """
    spark = df.sparkSession
    # argument errors fail HERE on the driver, not minutes later inside
    # a shard task after the scan and shuffle already ran
    if kind not in ("xor8", "xor16", "fuse8", "fuse16", "fuse32"):
        raise ValueError(f"unknown filter kind: {kind}")
    if arity != 3 and not kind.startswith("fuse"):
        raise ValueError("arity applies to fuse kinds only")
    if arity not in (3, 4):
        # mirror FuseFilter.build — arity=5 must not pass the driver
        # check only to fail minutes later inside a shard task
        raise ValueError(f"arity must be 3 or 4, got {arity}")
    shard_bits = _resolve_shard_bits(df, shard_bits, target_keys_per_shard)
    num_shards = 1 << shard_bits

    keyed = keys_with_shard(df, key_col, shard_bits)
    if checkpoint_dir is None:
        return build_filter_rows(keyed, kind, num_shards, arity=arity)

    fs, directory, manifest_path = _checkpoint_paths(spark, checkpoint_dir)
    manifest = _read_manifest(fs, manifest_path)
    if manifest is None:
        if _holds_files(fs, directory):
            raise ValueError(
                f"checkpoint_dir {checkpoint_dir} holds files but no "
                f"committed build ({_MANIFEST}): a table another writer "
                "or an older library version wrote, or one cut by hand; "
                "use a fresh directory")
        fingerprint = _input_fingerprint(df)
        build_filter_rows(keyed, kind, num_shards, arity=arity) \
            .write.mode("append").parquet(checkpoint_dir)
        _write_manifest(fs, manifest_path, {
            "kind": kind, "num_shards": num_shards, "arity": arity,
            "input": fingerprint})
        return spark.read.schema(FILTER_TABLE_SCHEMA).parquet(checkpoint_dir)

    # reuse only a COMPATIBLE build: reading its payloads with other
    # parameters would give silent garbage membership bits
    if (manifest["kind"], manifest["num_shards"]) != (kind, num_shards):
        raise ValueError(
            f"checkpoint_dir {checkpoint_dir} holds an incompatible build "
            f"(kind={manifest['kind']}, num_shards={manifest['num_shards']})"
            f" vs requested (kind={kind}, num_shards={num_shards}); "
            "use a fresh directory")
    if manifest["arity"] != arity:
        raise ValueError(
            f"checkpoint_dir {checkpoint_dir} holds {manifest['arity']}-wise "
            f"{kind} payloads but arity={arity} was requested; use a fresh "
            "directory")
    table = spark.read.schema(FILTER_TABLE_SCHEMA).parquet(checkpoint_dir)
    stored_input = manifest["input"]
    if stored_input is None or stored_input != _input_fingerprint(df):
        # input identity: reusing payloads built over another input
        # would give false negatives for its new keys.  Stored
        # input_rows is the exact pre-dedup row count each shard's build
        # saw (a shard with no row saw none), so recount the current
        # input per shard (map-side partial agg over key + shard only)
        stored = {r["shard"]: r["input_rows"] for r in
                  table.select("shard", "input_rows").collect()}
        current = {r["shard"]: r["n"] for r in
                   keyed.groupBy("shard").agg(F.count("*").alias("n"))
                   .collect()}
        bad = {s: (stored.get(s, 0), current.get(s, 0))
               for s in stored.keys() | current.keys()
               if stored.get(s, 0) != current.get(s, 0)}
        if bad:
            ex = dict(sorted(bad.items())[:4])
            raise ValueError(
                f"checkpoint_dir {checkpoint_dir} was built from a "
                f"different input: per-shard row counts differ on "
                f"{len(bad)} shard(s) (shard: (checkpointed, current)) "
                f"{ex}; reusing it would produce false negatives — use "
                "a fresh directory")
    # behavioural spot check, run even when the fingerprint matched: row
    # counts and input identity CANNOT see a payload that is stale
    # because the CODE changed under it (e.g. a 4-wise cell map from an
    # older kernel version — same input, same counts, another hash
    # mapping).  A matching payload never probes an inserted key False,
    # so one miss among a few current keys proves the payload was built
    # by incompatible code or over different keys.
    miss = probe_via_join(keyed.select("key").limit(256), "key", table,
                          num_shards).where(~F.col("member")).first()
    if miss is not None:
        shard = shard_of_hash(K.to_uint64(np.array([miss["key"]])),
                              shard_bits)[0]
        raise ValueError(
            f"checkpoint_dir {checkpoint_dir}: shard {shard} payload "
            "probes FALSE for keys present in the current input — the "
            "checkpoint was built over different keys or by an "
            "incompatible library version; reusing it would produce "
            "false negatives.  Use a fresh directory")
    return table


def build_sharded(
    df: DataFrame,
    key_col: str,
    kind: str = "fuse8",
    shard_bits: int | None = None,
    target_keys_per_shard: int = 1 << 22,
    checkpoint_dir: str | None = None,
    arity: int = 3,
) -> tuple[ShardedFilter, DataFrame]:
    """Build a sharded filter over ``df[key_col]`` (int64 keys).

    Returns ``(filter, filter_table_df)`` — the filter's payloads are
    MATERIALIZED on the driver for broadcast probing
    (``contains_udf``); when the filter is too large to broadcast and
    probing goes through ``probe_via_join``, use ``build_sharded_table``
    instead (same build plan, no driver materialization).  Without
    ``shard_bits``, ``target_keys_per_shard`` counts input rows,
    duplicates included; ``checkpoint_dir`` holds one committed build,
    which a matching rerun reuses as it stands (``build_sharded_table``).
    """
    shard_bits = _resolve_shard_bits(df, shard_bits, target_keys_per_shard)
    table = build_sharded_table(
        df, key_col, kind=kind, shard_bits=shard_bits,
        checkpoint_dir=checkpoint_dir, arity=arity)

    return complete_filter(table.collect(), kind, 1 << shard_bits), table


def complete_filter(rows: Iterable, kind: str,
                    num_shards: int) -> ShardedFilter:
    """``ShardedFilter`` over collected filter-table rows, each absent
    shard filled with a valid empty filter, which probes False for every
    key, as ``probe_via_join`` answers for a shard with no row.

    A shard that received zero keys produces no kernel row (groupBy
    emits non-empty groups only), so an oversized explicit shard_bits
    or a young incremental stream still yields a complete filter.
    ``from_filter_table`` itself keeps refusing missing shards: there
    they mean a table cut short by hand."""
    rows = [r.asDict() for r in rows]
    present = {r["shard"] for r in rows}
    if len(present) < num_shards:
        payload = empty_filter(kind).to_bytes()
        rows += [{"shard": s, "kind": kind, "num_shards": num_shards,
                  "input_rows": 0, "distinct_keys": 0, "seed": 0,
                  "size_bytes": len(payload), "build_ms": 0.0,
                  "payload": payload}
                 for s in range(num_shards) if s not in present]
    return ShardedFilter.from_filter_table(rows)


def _bucket_keys(num_buckets: int) -> list[int]:
    """For each bucket id s < ``num_buckets`` (a power of two), the
    smallest int b >= 0 that Spark buckets into s: pmod(murmur3(b),
    num_buckets) == s, the partition id of HashPartitioning and
    ``bucketBy`` alike."""
    keys = np.full(num_buckets, -1, dtype=np.int64)
    lo = 0
    while (keys < 0).any():
        b = np.arange(lo, lo + 8 * num_buckets, dtype=np.int64)
        ids, first = np.unique(K.murmur3_int(b) & np.uint32(num_buckets - 1),
                               return_index=True)
        ids = ids.astype(np.int64)
        new = keys[ids] < 0
        keys[ids[new]] = b[first[new]]
        lo += b.size
    return keys.tolist()


def write_bucketed_keys(df: DataFrame, key_col: str, shard_bits: int,
                        table_name: str, mode: str = "overwrite") -> None:
    """Persist the key stream as a SHARD-BUCKETED table: the write pays
    the shuffle once, and every subsequent ``build_sharded_from_bucketed``
    is completely shuffle-free (Catalyst sees the scan's
    HashPartitioning already satisfies the shard grouping's
    distribution — asserted in tests/test_plans.py).  This is the
    SCALE.md deployment for a 10^12-key corpus that gets re-filtered
    repeatedly: an Iceberg/bucketBy layout choice, not an engine change.

    The table is (key long, bucket int), bucketed by ``bucket``: Spark's
    bucket id is pmod(murmur3(bucket), 2^bits), not the bucket value, so
    a shard is stored as the int whose bucket id is the shard
    (``_bucket_keys``), and 2^bits shards fill 2^bits buckets, one shard
    each.  The keyed frame is hash-partitioned by ``bucket`` into
    exactly the bucket count first, by that same hash, so each write
    task holds one bucket and writes one file (straight off the scan,
    every task wrote one file per bucket it held).
    """
    num_buckets = 1 << shard_bits
    spark = df.sparkSession
    bucket_of = spark.createDataFrame(
        list(enumerate(_bucket_keys(num_buckets))), "shard int, bucket int")
    keyed = keys_with_shard(df, key_col, shard_bits) \
        .join(F.broadcast(bucket_of), "shard").select("key", "bucket") \
        .repartition(num_buckets, "bucket")
    keyed.write.bucketBy(num_buckets, "bucket").sortBy("bucket") \
        .mode(mode).saveAsTable(table_name)


def build_sharded_from_bucketed(spark: SparkSession, table_name: str,
                                kind: str = "fuse8",
                                arity: int = 3) -> DataFrame:
    """Shuffle-free filter-table build over a ``write_bucketed_keys``
    table.  Bucket spec (count + column) is read from the catalog and
    validated; returns the filter-table DataFrame (pair with
    ``probe_via_join`` / ``ShardedFilter.from_filter_table``).  Each
    bucket builds as one group, and its shard id is its bucket id,
    pmod(hash(bucket), count), a projection after the build."""
    desc = {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE EXTENDED {table_name}").collect()}
    try:
        num_buckets = int(desc.get("Num Buckets", ""))
    except ValueError:
        raise ValueError(f"{table_name} is not a bucketed table")
    if num_buckets <= 0 or (num_buckets & (num_buckets - 1)) != 0:
        raise ValueError(
            f"{table_name}: bucket count {num_buckets} must be a power "
            "of two (write with write_bucketed_keys)")
    # exact match, not substring: a table bucketed by shard or by
    # (key, bucket) would pass a loose check but NOT satisfy the
    # grouping's distribution — Catalyst would silently reinsert the
    # Exchange this function exists to avoid
    bucket_cols = [c.strip(" `") for c in
                   desc.get("Bucket Columns", "").strip("[]").split(",")]
    if bucket_cols != ["bucket"]:
        raise ValueError(
            f"{table_name} is bucketed by {bucket_cols}, not by exactly "
            "the bucket column (write with write_bucketed_keys)")
    keyed = spark.table(table_name).select(
        "key", F.col("bucket").alias("shard"))
    return build_filter_rows(keyed, kind, num_buckets, arity=arity) \
        .withColumn("shard", F.pmod(F.hash("shard"), F.lit(num_buckets)))


def probe_via_join(probes: DataFrame, key_col: str,
                   filter_table: DataFrame,
                   num_shards: int | None = None) -> DataFrame:
    """Probe WITHOUT broadcasting: cogroup probe keys with filter rows by
    shard id.

    The broadcast probe (``contains_udf``) needs every executor to hold
    the whole filter — fine for dim-table pruning (MBs) but not for a
    10^12-key filter table (~TB, SCALE.md).  Here a JVM cogroup
    (native/FilterProbe.java ``join``) hands each task ONE shard's
    payload row, which it parses, and streams that shard's probe keys
    through the broadcast probe's contain: memory per task is one
    sub-filter regardless of total filter size.

    Returns (key, member) rows; join back on key for row-level
    filtering.  Null (and uncastable) probe keys are dropped by the
    shard projection, so they get no output row; a left join back on
    key reads them as non-members, as the broadcast probes answer.  A
    shard with no table row probes False.  Two rows for one shard, or
    an explicit ``num_shards`` that differs from the table's, raise
    inside the probe task.
    """
    if num_shards is None:
        # when filter_table is an unmaterialized build plan, reading
        # num_shards would EXECUTE it once just for one number and the
        # cogroup below would execute it again — a full double build.
        # An eager local checkpoint materializes the shards once for
        # both.  Unlike persist() it registers no plan in the session's
        # cache manager, which would serve these rows to every later
        # query with an equal plan (a later build over the same
        # input).  Passing num_shards explicitly skips both.
        from pyspark import StorageLevel
        if filter_table.storageLevel == StorageLevel.NONE:
            filter_table = filter_table.localCheckpoint()
        num_shards = filter_table.select(F.first("num_shards")).first()[0]
    keyed = keys_with_shard(probes, key_col, int(math.log2(num_shards)))
    table = filter_table.select("shard", "kind", "num_shards", "payload")
    spark = probes.sparkSession
    return DataFrame(_jvm_factory(spark, "FilterProbe").join(
        keyed._jdf, table._jdf, num_shards), spark)


def build_filter_rows(keyed: DataFrame, kind: str,
                      num_shards: int, arity: int = 3) -> DataFrame:
    """Low-level: (key, shard) rows -> filter-table rows for the shards
    PRESENT in ``keyed`` (no completeness requirement — used by the
    streaming incremental rebuild of touched shards).  ``arity=4``
    builds 4-wise fuse shards; probes need no flag (deserialization
    infers arity from each payload's layout).

    ``groupBy(shard).agg(...)`` of native/FilterBuild.java, a typed JVM
    aggregate: each shard's keys gather into a primitive ``long[]``
    (map-side partials included), and its finish builds the shard, so
    the keys never leave the JVM.  Its payload bytes are
    operators/local.py's ``build_filter(np.unique(keys), kind,
    arity).to_bytes()``."""
    spark = keyed.sparkSession
    judf = _jvm_factory(spark, "FilterBuild").udaf(
        kind, num_shards, arity, _BUILD_ROW_SCHEMA.json())
    row = _jvm_apply(spark.sparkContext, judf, F.col("key"))
    return keyed.groupBy("shard").agg(row.alias("row")) \
        .select("shard", "row.*")


def semi_join_prune(fact: DataFrame, fact_key: str, sf: ShardedFilter,
                    dim_keys: DataFrame, dim_key: str) -> DataFrame:
    """Exact left-semi join accelerated by a filter pre-probe.

    The contains() probe (no false negatives) discards ~all non-matching
    fact rows *before* the shuffle/broadcast of the exact join — at 100 TB
    this is the difference between shuffling the full fact table and
    shuffling the ~matching fraction.  The final exact join removes the
    <=2^-8/2^-16 false positives, so results are exact.

    The dim side is force-broadcast with no size check — right for this
    function's target shape (a dim small enough that its keys also fit
    in the broadcast filter), and deliberate rather than
    autoBroadcastJoinThreshold-dependent (a dim just past the threshold
    would silently become a full shuffle of the pruned fact side).  A
    dim too large to broadcast belongs to ``probe_via_join``, the
    driver-free path built for that regime.
    """
    # where(udf): the JVM filters the (wide) fact rows
    pruned = fact.where(sf.contains_udf(fact.sparkSession)(F.col(fact_key)))
    # bind the dim side explicitly: an unbound F.col(dim_key) is ambiguous
    # whenever fact has a same-named column (incl. fact_key == dim_key)
    dim = F.broadcast(dim_keys.select(dim_key).distinct())
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "left_semi")
