"""Differential tests: native (C) kernel vs numpy fallback.

Both implement the same algorithms (SURVEY.md §2); any valid peel order
yields a correct filter, so cross-path guarantees are behavioral:
identical winning seeds (peelability is a set property), zero false
negatives both ways and byte-level self-consistency within a path.  The
kernel builds only; the probe is numpy on every host.  The lints at the
end need no loaded kernel.
"""

import os
import subprocess
import sys

import numpy as np
import pytest

from fastfilter_spark.functions.native import get_kernel

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_kernel = pytest.mark.skipif(get_kernel() is None,
                                  reason="no C compiler available")


def _numpy_build(kind: str, keys: np.ndarray):
    """Build in a subprocess with FASTFILTER_NO_NATIVE to get the pure
    numpy path (the flag is read once per process)."""
    code = (
        "import numpy as np, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "from fastfilter_spark.operators.local import build_filter\n"
        "keys = np.frombuffer(sys.stdin.buffer.read(), dtype=np.uint64)\n"
        f"f = build_filter(keys, '{kind}')\n"
        "sys.stdout.buffer.write(f.to_bytes())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], input=keys.tobytes(),
        capture_output=True, env={"FASTFILTER_NO_NATIVE": "1",
                                  "PATH": "/usr/bin:/bin"},
        check=True)
    return out.stdout


@needs_kernel
@pytest.mark.parametrize("kind", ["xor8", "xor16", "fuse8", "fuse16", "fuse32"])
def test_native_vs_numpy_same_seed_and_guarantees(kind):
    from fastfilter_spark.operators.local import (
        build_filter, filter_from_bytes)
    keys = (np.arange(20_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    nat_f = build_filter(keys, kind)                      # native path
    np_bytes = _numpy_build(kind, keys)                   # numpy path
    np_f = filter_from_bytes(np_bytes, kind)
    # identical winning seed: peel success is order-independent
    assert nat_f.seed == np_f.seed
    # identical layout/params => identical serialized length
    assert len(nat_f.to_bytes()) == len(np_bytes)
    # zero false negatives on both
    assert nat_f.contain(keys).all()
    assert np_f.contain(keys).all()
    # the probe of the numpy-built filter, re-read from its bytes, still
    # has zero false negatives — probes only depend on (seed, fingerprints)
    assert filter_from_bytes(np_bytes, kind).contain(keys).all()


@needs_kernel
def test_native_duplicate_tolerance():
    from fastfilter_spark.operators.local import build_filter
    keys = np.concatenate([np.arange(5000, dtype=np.uint64),
                           np.arange(10, dtype=np.uint64)])  # 10 dups
    f = build_filter(keys, "fuse8")
    assert f.contain(keys).all()


@needs_kernel
def test_native_fpp_bound():
    from fastfilter_spark.operators.local import build_filter
    f = build_filter(np.arange(100_000, dtype=np.uint64), "fuse8")
    probes = np.random.default_rng(9).integers(
        1 << 40, 1 << 62, size=1_000_000, dtype=np.uint64)
    assert f.contain(probes).mean() <= (1 / 256) * 1.25


# ---- arity-4 native path (VERDICT r2 missing-item #1) ----------------------

def _numpy_build4(keys: np.ndarray, bits: int) -> bytes:
    code = (
        "import numpy as np, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "from fastfilter_spark.operators.local import FuseFilter\n"
        "keys = np.frombuffer(sys.stdin.buffer.read(), dtype=np.uint64)\n"
        f"f = FuseFilter.build(keys, fingerprint_bits={bits}, arity=4)\n"
        "sys.stdout.buffer.write(f.to_bytes())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], input=keys.tobytes(),
        capture_output=True, env={"FASTFILTER_NO_NATIVE": "1",
                                  "PATH": "/usr/bin:/bin"},
        check=True)
    return out.stdout


@needs_kernel
@pytest.mark.parametrize("bits", [8, 16, 32])
def test_native_arity4_vs_numpy(bits):
    """The 4-wise native kernel (ff_fuse_prepare4/ff_peel_pre4) must be
    interchangeable with the numpy fuse_index_quad tier: identical
    winning seed, identical layout, and cross-tier wire compatibility
    (zero false negatives probing each other's filters — the index maps
    and fingerprint fold agree; only peel ORDER may differ)."""
    from fastfilter_spark.operators.local import FuseFilter
    keys = (np.arange(30_000, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    nat_f = FuseFilter.build(keys, fingerprint_bits=bits, arity=4)
    assert nat_f.arity == 4
    np_bytes = _numpy_build4(keys, bits)
    np_f = FuseFilter.from_bytes(np_bytes, fingerprint_bits=bits)
    assert np_f.arity == 4              # arity inferred from layout
    assert nat_f.seed == np_f.seed      # identical seed chain
    assert len(nat_f.to_bytes()) == len(np_bytes)
    # cross-tier: each tier's filter probes its keys with zero misses
    assert nat_f.contain(keys).all()
    assert np_f.contain(keys).all()
    rng = np.random.default_rng(11)
    others = rng.integers(0, 1 << 63, size=300_000, dtype=np.uint64)
    bound = {8: 2**-8, 16: 2**-16, 32: 2**-32}[bits]
    assert np_f.contain(others).mean() <= bound * 2 + 3e-6


@needs_kernel
def test_native_arity4_index_map_matches_numpy():
    """The cell maps fuse_prepare returns must agree element-wise with the
    numpy tier's for both arities (this is what guarantees cross-tier
    compatibility above), over hashes that are exactly the seeded mix of
    the input keys, reordered."""
    from fastfilter_spark.functions import kernels as K
    from fastfilter_spark.operators.local import fuse_layout
    nat = get_kernel()
    keys = np.random.default_rng(2).integers(
        0, 1 << 63, size=10_000, dtype=np.uint64)
    seed = 0x9E3779B97F4A7C15
    for arity, index in ((3, K.fuse_index_triple), (4, K.fuse_index_quad)):
        seg_len, seg_cnt, seg_cnt_len, m = fuse_layout(50_000, arity)
        mixed, *g_nat = nat.fuse_prepare(keys, seed, seg_len, seg_cnt_len,
                                         seg_cnt, m, arity=arity)
        assert len(g_nat) == arity
        assert (np.sort(mixed) == np.sort(K.mix_split(keys, seed))).all()
        g_np = index(mixed, seg_len, seg_len - 1, seg_cnt_len)
        for a, b in zip(g_nat, g_np, strict=True):
            assert (a.astype(np.int64) == b.astype(np.int64)).all()


def test_kernel_surface_is_all_used():
    """No dead native route: every ff_* symbol the compiled kernel exports
    is bound in functions/native.py, and every public _Kernel method is
    called by operators/local.py."""
    import re
    import shutil
    from fastfilter_spark.functions import native
    from fastfilter_spark.operators import local
    nm = shutil.which("nm")
    so = native._compile()
    if nm is None or so is None:
        pytest.skip("nm or the compiled kernel is unavailable")
    out = subprocess.run([nm, "-D", "--defined-only", so],
                         capture_output=True, text=True, check=True).stdout
    symbols = {f[-1] for f in map(str.split, out.splitlines())
               if f and f[-1].startswith("ff_")}
    assert symbols
    with open(native.__file__) as f:
        native_src = f.read()
    with open(local.__file__) as f:
        local_src = f.read()
    assert sorted(s for s in symbols
                  if not re.search(rf"\b{s}\b", native_src)) == []
    methods = [name for name, v in vars(native._Kernel).items()
               if callable(v) and not name.startswith("_")]
    assert sorted(m for m in methods
                  if not re.search(rf"\.{m}\(", local_src)) == []


def test_kernel_compiles_warning_free():
    """ffkernel.c builds clean under -Wall -Wextra: an unused parameter
    or variable there is dead interface the ctypes bindings still pay
    to pass."""
    import shutil
    from fastfilter_spark.functions import native
    cc = shutil.which("cc")
    if cc is None:
        pytest.skip("no C compiler available")
    out = subprocess.run([cc, "-Wall", "-Wextra", "-Werror",
                          "-fsyntax-only", native._SRC],
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr


def test_probe_source_compiles_warning_free():
    """Every Java source of the jar (FilterProbe.java, the JVM probe;
    FilterBuild.java, the JVM shard build; SketchFold.java, the JVM
    sketch folds) builds clean under javac -Xlint:all.  The classpath is pyspark's jars minus derby and
    scala-compiler, whose manifests name Class-Path jars pyspark does
    not ship (javac's path lint reports those, not this source)."""
    import glob
    import shutil
    import tempfile

    import pyspark
    from fastfilter_spark.functions import native
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac available")
    jars = [j for j in glob.glob(os.path.join(
                os.path.dirname(pyspark.__file__), "jars", "*.jar"))
            if not os.path.basename(j).startswith(("derby", "scala-compiler"))]
    with tempfile.TemporaryDirectory() as out:
        res = subprocess.run(
            [javac, "--release", "17", "-Xlint:all", "-Werror",
             "-cp", os.pathsep.join(jars), "-d", out, *native._JAVA_SRCS],
            capture_output=True, text=True)
    assert res.returncode == 0, res.stderr


@needs_kernel
def test_native_arity4_emit_path():
    """>= EMIT_MIN_N keys exercises the emit-cells peel + sequential
    assign variant (oc0..oc3 streams)."""
    from fastfilter_spark.operators.local import FuseFilter
    n = get_kernel().EMIT_MIN_N + 10_000
    keys = np.random.default_rng(5).integers(
        0, 1 << 63, size=n, dtype=np.uint64)
    f = FuseFilter.build(keys, fingerprint_bits=8, arity=4)
    assert f.contain(keys).all()


@needs_kernel
def test_native_arity4_duplicates():
    from fastfilter_spark.operators.local import FuseFilter
    keys = np.concatenate([np.arange(5000, dtype=np.uint64),
                           np.arange(25, dtype=np.uint64)])
    f = FuseFilter.build(keys, fingerprint_bits=8, arity=4)
    assert f.contain(keys).all()


@needs_kernel
def test_native_arity4_peels_beyond_shard_sizes():
    """Regression for the round-3 peelability fix: offset windows drawn
    from the mulhi-driving high bits left ~78% of rows unpeelable at
    n=5M (every seed), while shard-sized builds (<=2M) worked — so a
    size this large must stay in the differential suite."""
    from fastfilter_spark.operators.local import FuseFilter
    keys = np.random.default_rng(17).integers(
        0, 1 << 63, size=6_000_000, dtype=np.uint64)
    f = FuseFilter.build(keys, fingerprint_bits=8, arity=4)
    assert f.seed is not None
    sample = keys[:: 97]
    assert f.contain(sample).all()
