"""Native (C) build kernel loader for the driver-local build, and the
JVM jar.

Compiles fastfilter_spark/native/ffkernel.c on first use with the system
C compiler into a content-addressed cached .so (atomic rename, safe for
concurrent processes on one host) and exposes thin ctypes wrappers.
The kernel builds only, and it is optional: without a compiler
``get_kernel()`` returns None and operators/local.py builds in numpy.
The two builds are differential-tested (tests/test_native.py) on
identical seed chains; the probe is numpy on every host.

The same cache holds the JVM jar: ``probe_jar(spark)`` compiles
fastfilter_spark/native/FilterProbe.java (every Spark-side probe),
FilterBuild.java (the shard build) and SketchFold.java (the HLL,
count-min, Bloom, theta, KLL and KMV folds) into one jar with the
Janino compiler Spark ships for its own code generation, run inside the
session's JVM over py4j, so any host that runs Spark can build it.
operators/dist.py loads it into the Spark session; every shard build,
Spark-side probe and JVM sketch fold runs there.
"""

from __future__ import annotations

import ctypes
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

import numpy as np

_NATIVE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "native")
_SRC = os.path.join(_NATIVE_DIR, "ffkernel.c")
_JAVA_SRCS = [os.path.join(_NATIVE_DIR, f)
              for f in ("FilterProbe.java", "FilterBuild.java",
                        "SketchFold.java")]
_kernel = None
_tried = False

_c_u64p = ctypes.POINTER(ctypes.c_uint64)
_c_i32p = ctypes.POINTER(ctypes.c_int32)
_c_u8p = ctypes.POINTER(ctypes.c_uint8)
_c_u16p = ctypes.POINTER(ctypes.c_uint16)
_c_u32p = ctypes.POINTER(ctypes.c_uint32)


def _ptr(arr: np.ndarray, ctype):
    return arr.ctypes.data_as(ctype)


def _read_source(path: str) -> bytes:
    """A source file of fastfilter_spark/native — works from a plain
    checkout AND from a --py-files zip (importlib.resources reads
    inside the archive)."""
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        from importlib import resources
        return (resources.files("fastfilter_spark.native")
                / os.path.basename(path)).read_bytes()


def _cached_build(src_paths: list[str], suffix: str, build) -> str:
    """Build ``src_paths`` once per content hash into the user cache
    dir, named after the first source, and return the cached path.

    ``build(srcs, out)`` compiles materialized copies of the sources
    (they may live inside a --py-files zip where no compiler can read
    them) into ``out``; the finished artifact is published by an atomic
    rename, so concurrent compiles on one host are safe.  A failed
    build raises."""
    srcs = [_read_source(p) for p in src_paths]
    name, _ = os.path.splitext(os.path.basename(src_paths[0]))
    h = hashlib.sha256()
    for src in srcs:
        h.update(hashlib.sha256(src).digest())
    tag = h.hexdigest()[:16]
    cache_dir = os.path.join(
        os.environ.get("XDG_CACHE_HOME", os.path.expanduser("~/.cache")),
        "fastfilter_spark")
    path = os.path.join(cache_dir, f"{name}-{tag}{suffix}")
    if os.path.exists(path):
        return path
    os.makedirs(cache_dir, exist_ok=True)
    work = tempfile.mkdtemp(dir=cache_dir)
    try:
        copies = [os.path.join(work, os.path.basename(p)) for p in src_paths]
        for copy, src in zip(copies, srcs):
            with open(copy, "wb") as f:
                f.write(src)
        out = os.path.join(work, "out" + suffix)
        build(copies, out)
        os.rename(out, path)  # atomic on one filesystem
        return path
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _compile() -> str | None:
    """The cached C kernel, or None without a C compiler or when the
    compile fails (the numpy tier then runs)."""
    def cc(srcs, out):
        subprocess.run(
            ["cc", "-O3", "-march=native", "-funroll-loops", "-shared",
             "-fPIC", "-o", out, *srcs],
            check=True, capture_output=True, timeout=120)
    try:
        return _cached_build([_SRC], ".so", cc)
    except Exception:
        return None


def probe_jar(spark) -> str:
    """The JVM probe, build and sketch folds (native/FilterProbe.java,
    FilterBuild.java and SketchFold.java) as one jar, compiled once per
    content hash by Janino inside ``spark``'s JVM against pyspark's
    jars.  Raises
    RuntimeError for a session without a py4j JVM (Spark Connect) or a
    failed compile."""
    if getattr(spark, "_jsparkSession", None) is None:
        raise RuntimeError(
            "fastfilter_spark builds and probes filters inside Spark's "
            "JVM through py4j, and this session has no py4j JVM (Spark "
            "Connect?); use a classic SparkSession")
    return _cached_build(_JAVA_SRCS, ".jar",
                         lambda srcs, out: _janino(spark.sparkContext,
                                                   srcs, out))


def _janino(sc, srcs: list[str], out: str) -> None:
    """Compile ``srcs`` into the jar ``out`` with
    org.codehaus.janino.Compiler in ``sc``'s JVM, with line and source
    debug info."""
    from py4j.protocol import Py4JJavaError
    import pyspark
    jvm, gateway = sc._jvm, sc._gateway

    def files(paths):
        arr = gateway.new_array(jvm.java.io.File, len(paths))
        for i, p in enumerate(paths):
            arr[i] = jvm.java.io.File(p)
        return arr

    jars = sorted(glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "*.jar")))
    classes = os.path.join(os.path.dirname(out), "classes")
    os.makedirs(classes)
    compiler = jvm.org.codehaus.janino.Compiler()
    compiler.setClassPath(files(jars))
    compiler.setDestinationDirectory(jvm.java.io.File(classes), False)
    compiler.setDebugLines(True)
    compiler.setDebugSource(True)
    try:
        compiler.compile(files(srcs))
    except Py4JJavaError as e:
        raise RuntimeError(
            f"Janino could not compile the fastfilter_spark jar: "
            f"{e.java_exception.toString()}") from None
    with zipfile.ZipFile(out, "w") as jar:
        for root, _, names in os.walk(classes):
            for f in names:
                p = os.path.join(root, f)
                jar.write(p, os.path.relpath(p, classes))


class _Kernel:
    """ctypes facade over the compiled kernel.

    Scratch and output buffers come from a grow-only per-process pool:
    numpy munmaps large arrays on free, so fresh allocations re-fault
    hundreds of MB of pages on every build.  Pooled arrays returned by
    these methods are VALID UNTIL THE NEXT CALL of the same method on
    this process — exactly the per-attempt lifetime the build loop in
    operators/local.py needs (anything that must survive, e.g. the
    fingerprint array, is allocated by the caller).
    """

    def __init__(self, lib: ctypes.CDLL):
        self.lib = lib
        self._pool: dict[str, np.ndarray] = {}

    def _buf(self, name: str, n: int, dtype) -> np.ndarray:
        a = self._pool.get(name)
        if a is None or a.size < n or a.dtype != np.dtype(dtype):
            a = np.empty(max(n, 1), dtype=dtype)
            self._pool[name] = a
        return a[:n]

    # ---- build: prepare -> peel_pre -> assign ----

    def fuse_prepare(self, keys: np.ndarray, seed: int, seg_len: int,
                     seg_cnt_len: int, seg_cnt: int, n_cells: int,
                     arity: int = 3):
        """Fused segment-sorted index + cell-state accumulation; pair
        with :meth:`peel_pre`.  Returns (mixed, g0..g{arity-1})."""
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        tmp = self._buf("tmp", n, np.uint64)
        bucket_pos = self._buf("bucket_pos", seg_cnt + 2, np.int64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        state = self._buf("state", n_cells, np.int64)
        if arity == 4:
            g3 = self._buf("g3", n, np.int32)
            self.lib.ff_fuse_prepare4(
                _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
                ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
                ctypes.c_uint32(seg_cnt), ctypes.c_int64(n_cells),
                _ptr(tmp, _c_u64p),
                _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
                _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
                _ptr(g2, _c_i32p), _ptr(g3, _c_i32p),
                _ptr(state, ctypes.POINTER(ctypes.c_int64)))
            return mixed, g0, g1, g2, g3
        self.lib.ff_fuse_prepare(
            _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
            ctypes.c_uint32(seg_len), ctypes.c_uint32(seg_cnt_len),
            ctypes.c_uint32(seg_cnt), ctypes.c_int64(n_cells),
            _ptr(tmp, _c_u64p), _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p), _ptr(state, ctypes.POINTER(ctypes.c_int64)))
        return mixed, g0, g1, g2

    def state_overflow(self, n_cells: int, limit: int = 64) -> bool:
        """True if any cell accumulated >= ``limit`` keys in the state
        filled by fuse_prepare/xor_prepare — mirrors the reference's
        6-bit packed-counter wrap abort (binaryfusefilter.h:374-377) so
        the native and numpy tiers fail attempts on identical seeds."""
        state = self._buf("state", n_cells, np.int64)
        return bool(int(state.max()) >> 32 >= limit)

    # Builds at least this large use the emit-cells peel + sequential
    # assign (ffkernel.c:ff_peel_pre doc): below it, every per-attempt
    # array is L2/L3-resident and the extra ~20 B/row of emitted stores
    # is pure added memory traffic — measurably slower when 32 shard
    # kernels run concurrently against shared DRAM bandwidth.  Above it,
    # the g/mixed arrays outrun cache and moving the gathers into the
    # peel loop is ~+8% single-core (measured at 5M keys).
    EMIT_MIN_N = 1 << 20

    def _peel_bufs(self, n: int, n_cells: int, emit: bool, arity: int = 3):
        # only the arrays the chosen assign variant reads get real
        # capacity; the others stay 1-element dummies for the C ABI
        full = n if emit else 1
        lean = 1 if emit else n
        return (self._buf("order", lean, np.int32),
                self._buf("ocell", n, np.int32),
                self._buf("oc0", full, np.int32),
                self._buf("oc1", full, np.int32),
                self._buf("oc2", full, np.int32),
                self._buf("oc3", full if arity == 4 else 1, np.int32),
                self._buf("ohash", full, np.uint64),
                self._buf("queue", n_cells, np.int32))

    def peel_pre(self, n_cells: int, mixed, *gs):
        """Peel using the state filled by :meth:`fuse_prepare` or
        :meth:`xor_prepare` (the state pool buffer is shared between the
        two calls).  Returns (peel_out, n_peeled); feed peel_out straight
        to :meth:`assign`.  peel_out is a tagged tuple — for large builds
        it carries each peeled row's cells + hash (sequential assign),
        for small ones just the peel order (lean assign over the g
        arrays).  Pass 3 or 4 g arrays; arity is inferred from the
        count."""
        n = gs[0].size
        arity = len(gs)
        emit = n >= self.EMIT_MIN_N
        state = self._buf("state", n_cells, np.int64)
        order, ocell, oc0, oc1, oc2, oc3, ohash, queue = \
            self._peel_bufs(n, n_cells, emit, arity)
        args = [ctypes.c_int64(n_cells), _ptr(mixed, _c_u64p)]
        args += [_ptr(g, _c_i32p) for g in gs]
        args += [_ptr(state, ctypes.POINTER(ctypes.c_int64)),
                 ctypes.c_int32(1 if emit else 0),
                 _ptr(order, _c_i32p), _ptr(ocell, _c_i32p),
                 _ptr(oc0, _c_i32p), _ptr(oc1, _c_i32p),
                 _ptr(oc2, _c_i32p)]
        if arity == 4:
            args.append(_ptr(oc3, _c_i32p))
        args += [_ptr(ohash, _c_u64p), _ptr(queue, _c_i32p)]
        fn = self.lib.ff_peel_pre4 if arity == 4 else self.lib.ff_peel_pre
        np_peeled = fn(*args)
        if emit:
            po = ("cells", ocell, oc0, oc1, oc2, ohash) if arity == 3 \
                else ("cells4", ocell, oc0, oc1, oc2, oc3, ohash)
        else:
            po = ("order", order, ocell, mixed) + tuple(gs)
        return po, int(np_peeled)

    def xor_prepare(self, keys: np.ndarray, seed: int, block_length: int,
                    n_cells: int, nbuckets: int = 1024):
        """Fused h0-bucketed sort + index + state accumulation for xor
        filters; pair with :meth:`peel_pre`."""
        n = keys.size
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        tmp = self._buf("tmp", n, np.uint64)
        bucket_pos = self._buf("bucket_pos", nbuckets + 2, np.int64)
        mixed = self._buf("mixed", n, np.uint64)
        g0 = self._buf("g0", n, np.int32)
        g1 = self._buf("g1", n, np.int32)
        g2 = self._buf("g2", n, np.int32)
        state = self._buf("state", n_cells, np.int64)
        self.lib.ff_xor_prepare(
            _ptr(keys, _c_u64p), ctypes.c_int64(n), ctypes.c_uint64(seed),
            ctypes.c_uint32(block_length), ctypes.c_uint32(nbuckets),
            ctypes.c_int64(n_cells),
            _ptr(tmp, _c_u64p), _ptr(bucket_pos, ctypes.POINTER(ctypes.c_int64)),
            _ptr(mixed, _c_u64p), _ptr(g0, _c_i32p), _ptr(g1, _c_i32p),
            _ptr(g2, _c_i32p), _ptr(state, ctypes.POINTER(ctypes.c_int64)))
        return mixed, g0, g1, g2

    def assign(self, n_peeled: int, peel_out, fp: np.ndarray):
        """Reverse-order fingerprint assignment over peel_pre() output."""
        fptr = {1: _c_u8p, 2: _c_u16p, 4: _c_u32p}[fp.itemsize]
        if peel_out[0] == "cells":
            _, ocell, oc0, oc1, oc2, ohash = peel_out
            fn = {1: self.lib.ff_assign8, 2: self.lib.ff_assign16,
                  4: self.lib.ff_assign32}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(ocell, _c_i32p),
               _ptr(oc0, _c_i32p), _ptr(oc1, _c_i32p), _ptr(oc2, _c_i32p),
               _ptr(ohash, _c_u64p), _ptr(fp, fptr))
        elif peel_out[0] == "cells4":
            _, ocell, oc0, oc1, oc2, oc3, ohash = peel_out
            fn = {1: self.lib.ff_assign8_4, 2: self.lib.ff_assign16_4,
                  4: self.lib.ff_assign32_4}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(ocell, _c_i32p),
               _ptr(oc0, _c_i32p), _ptr(oc1, _c_i32p), _ptr(oc2, _c_i32p),
               _ptr(oc3, _c_i32p), _ptr(ohash, _c_u64p), _ptr(fp, fptr))
        elif len(peel_out) == 8:      # ("order", order, ocell, mixed, g0..g3)
            _, order, ocell, mixed, g0, g1, g2, g3 = peel_out
            fn = {1: self.lib.ff_assign8_g4, 2: self.lib.ff_assign16_g4,
                  4: self.lib.ff_assign32_g4}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(order, _c_i32p),
               _ptr(ocell, _c_i32p), _ptr(mixed, _c_u64p),
               _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p),
               _ptr(g3, _c_i32p), _ptr(fp, fptr))
        else:
            _, order, ocell, mixed, g0, g1, g2 = peel_out
            fn = {1: self.lib.ff_assign8_g, 2: self.lib.ff_assign16_g,
                  4: self.lib.ff_assign32_g}[fp.itemsize]
            fn(ctypes.c_int64(n_peeled), _ptr(order, _c_i32p),
               _ptr(ocell, _c_i32p), _ptr(mixed, _c_u64p),
               _ptr(g0, _c_i32p), _ptr(g1, _c_i32p), _ptr(g2, _c_i32p),
               _ptr(fp, fptr))


def get_kernel() -> _Kernel | None:
    """Compile-and-load once per process; None if unavailable.  Disable
    explicitly with FASTFILTER_NO_NATIVE=1 (tests use this to exercise
    the numpy fallback)."""
    global _kernel, _tried
    if _tried:
        return _kernel
    _tried = True
    if os.environ.get("FASTFILTER_NO_NATIVE"):
        return None
    try:
        so = _compile()
        if so is None:
            return None
        lib = ctypes.CDLL(so)
        lib.ff_peel_pre.restype = ctypes.c_int64
        lib.ff_peel_pre4.restype = ctypes.c_int64
        _kernel = _Kernel(lib)
    except Exception:
        _kernel = None
    return _kernel
