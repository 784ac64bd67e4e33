"""Exact-uint64 scalar kernels, vectorized with numpy.

These reproduce, bit-for-bit, the hash/PRNG/index arithmetic of the
reference C library (FastFilter/xor_singleheader):

- murmur64 finalizer        -> /root/reference/include/xorfilter.h:46-53
- mix_split (seeded hash)   -> /root/reference/include/xorfilter.h:55-57
- rotl64                    -> /root/reference/include/xorfilter.h:59-61
- reduce (Lemire modulo)    -> /root/reference/include/xorfilter.h:63-66
- fingerprint fold          -> /root/reference/include/xorfilter.h:68-70
- splitmix64 PRNG           -> /root/reference/include/xorfilter.h:77-82
- mulhi (64x64 high word)   -> /root/reference/include/binaryfusefilter.h:96-146
                               (portable split-word schoolbook recipe)
- fuse index triple         -> /root/reference/include/binaryfusefilter.h:154-175

All array kernels take/return ``np.uint64`` arrays.  Scalar constants are
plain Python ints: numpy adapts an int literal to the array's uint64 dtype
(unlike a mixed int64/uint64 pair, which would promote to float64 and
corrupt the hashes), and `array op python_int` takes a measurably faster
ufunc path on this host than `array op np.uint64(x)`.  Overflow is
intentional two's-complement wraparound.  In-place ops keep the hot paths
to one temporary per kernel.
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
MASK64 = 0xFFFFFFFFFFFFFFFF
MASK32 = 0xFFFFFFFF

# splitmix64 chain constants (xorfilter.h:77-82)
SPLITMIX_GAMMA = 0x9E3779B97F4A7C15
_SM_C1 = 0xBF58476D1CE4E5B9
_SM_C2 = 0x94D049BB133111EB

# Seed-retry chain starting counters (xorfilter.h:661; binaryfusefilter.h:286)
XOR_RNG_START = 1
FUSE_RNG_START = 0x726B2B9D438B9D4D

# Retry policy constants (xorfilter.h:10-17)
XOR_SORT_ITERATIONS = 10
XOR_MAX_ITERATIONS = 100


def murmur64(h: np.ndarray, copy: bool = True) -> np.ndarray:
    """murmur3 64-bit finalizer over a uint64 array (xorfilter.h:46-53)."""
    h = np.array(h, dtype=U64, copy=copy)
    h ^= h >> 33
    h *= 0xFF51AFD7ED558CCD
    h ^= h >> 33
    h *= 0xC4CEB9FE1A85EC53
    h ^= h >> 33
    return h


def mix_split(keys: np.ndarray, seed: int) -> np.ndarray:
    """Seeded hash: murmur64(key + seed) (xorfilter.h:55-57)."""
    keys = np.asarray(keys, dtype=U64)
    return murmur64(keys + (seed & MASK64), copy=False)


def rotl64(h: np.ndarray, c: int) -> np.ndarray:
    """Rotate-left 64 (xorfilter.h:59-61)."""
    h = np.asarray(h, dtype=U64)
    c &= 63
    if c == 0:
        return h.copy()
    return (h << c) | (h >> (64 - c))


def reduce32(hash32: np.ndarray, n: int) -> np.ndarray:
    """Lemire multiplicative range reduction: (h * n) >> 32 (xorfilter.h:63-66).

    ``hash32`` must already be truncated to 32 bits; returns uint64 indices
    in [0, n).
    """
    h = np.asarray(hash32, dtype=U64) & MASK32
    h *= (n & MASK32)
    h >>= 32
    return h


def fingerprint64(h: np.ndarray) -> np.ndarray:
    """Fold a 64-bit hash to a fingerprint source: h ^ (h >> 32)
    (xorfilter.h:68-70).  Caller truncates to the fingerprint width."""
    h = np.asarray(h, dtype=U64)
    return h ^ (h >> 32)


def splitmix64(state: int) -> tuple[int, int]:
    """One splitmix64 step (xorfilter.h:77-82).

    Takes and returns Python ints (exact, no numpy) because the seed-retry
    chain runs once per build attempt on the driver/kernel side, never
    per row.  Returns ``(new_state, value)``.
    """
    state = (state + SPLITMIX_GAMMA) & MASK64
    z = state
    z = ((z ^ (z >> 30)) * _SM_C1) & MASK64
    z = ((z ^ (z >> 27)) * _SM_C2) & MASK64
    z = z ^ (z >> 31)
    return state, z


def splitmix64_stream(seed: int, n: int) -> np.ndarray:
    """Vectorized n-step splitmix64 stream from ``seed`` (test-data
    generator).  Equivalent to calling :func:`splitmix64` n times; state_i =
    seed + (i+1)*gamma (mod 2^64)."""
    z = np.arange(1, n + 1, dtype=U64)
    z *= SPLITMIX_GAMMA
    z += (seed & MASK64)
    z = (z ^ (z >> 30)) * _SM_C1
    z = (z ^ (z >> 27)) * _SM_C2
    z ^= z >> 31
    return z


def mulhi(a: np.ndarray, b: int) -> np.ndarray:
    """High 64 bits of a 64x64->128 multiply (binaryfusefilter.h:96-146).

    numpy has no 128-bit integers, so this is the portable split-word
    schoolbook multiply: a = a1*2^32 + a0, b = b1*2^32 + b0; the middle
    partial sum provably cannot overflow 64 bits.
    """
    a = np.asarray(a, dtype=U64)
    b &= MASK64
    if b < (1 << 32):
        # fast path (the fuse SegmentCountLength always fits 32 bits):
        # hi = (a1*b + ((a0*b) >> 32)) >> 32, both products < 2^64
        a0 = a & MASK32
        a0 *= b
        a0 >>= 32
        a1 = a >> 32
        a1 *= b
        a1 += a0
        a1 >>= 32
        return a1
    b0 = b & MASK32
    b1 = b >> 32
    a0 = a & MASK32
    a1 = a >> 32
    p01 = a0 * b1
    # middle = a1*b0 + (a0*b0 >> 32) + low32(p01)
    mid = a1 * b0
    a0 *= b0          # a0 := p00
    a0 >>= 32
    mid += a0
    mid += p01 & MASK32
    # high = a1*b1 + (middle >> 32) + (p01 >> 32)
    a1 *= b1
    mid >>= 32
    a1 += mid
    p01 >>= 32
    a1 += p01
    return a1


def xor_index_triple(hashes: np.ndarray, block_length: int):
    """xor-filter index triple (xorfilter.h:198-210): three block-local
    indices in [0, blockLength) from rotations 0/21/42 of the mixed hash."""
    h0 = reduce32(hashes & MASK32, block_length)
    h1 = reduce32(rotl64(hashes, 21) & MASK32, block_length)
    h2 = reduce32(rotl64(hashes, 42) & MASK32, block_length)
    return h0, h1, h2


def fuse_index_triple(
    hashes: np.ndarray, segment_length: int, segment_length_mask: int,
    segment_count_length: int,
):
    """binary-fuse index triple (binaryfusefilter.h:154-164): h0 from the
    mulhi segment map, h1/h2 in the next two segments with windowed XOR
    offsets taken from hash bits [18:36) and [0:18).  The adds happen in
    uint32 before the XOR offsets, as in the C batch form."""
    hashes = np.asarray(hashes, dtype=U64)
    sl = segment_length & MASK32
    mask = segment_length_mask & MASK32
    h0 = mulhi(hashes, segment_count_length)
    h0 &= MASK32
    h1 = ((h0 + sl) & MASK32) ^ ((hashes >> 18) & mask)
    h2 = ((h0 + 2 * sl) & MASK32) ^ (hashes & mask)
    return h0, h1, h2


def fuse_index_triple_exact(
    hashes: np.ndarray, segment_length: int, segment_length_mask: int,
    segment_count_length: int,
):
    """Same as :func:`fuse_index_triple` but computed exactly like the
    per-slot form binary_fuse8_hash (binaryfusefilter.h:166-175), which the
    reference's peeling loop uses: h_i = mulhi(hash, scl) + i*SL ^
    ((hash & 2^36-1) >> (36-18i)) & mask.  Both forms agree; kept for tests.
    """
    hashes = np.asarray(hashes, dtype=U64)
    out = []
    base = mulhi(hashes, segment_count_length)
    hh = hashes & ((1 << 36) - 1)
    for i in range(3):
        h = base + i * (segment_length & MASK64)
        h = h ^ ((hh >> (36 - 18 * i)) & segment_length_mask)
        out.append(h & MASK32)
    return tuple(out)


def fuse_index_quad(
    hashes: np.ndarray, segment_length: int, segment_length_mask: int,
    segment_count_length: int,
):
    """4-wise binary-fuse index: h0 from the mulhi segment map, h1..h3 in
    the next three segments with windowed XOR offsets from a SECOND
    murmur mix of the hash (bits [36:54), [18:36), [0:18)).

    The reference implements only the 3-wise hash (its arity-4 sizing
    constants, binaryfusefilter.h:196-198/214-216, are dead code); this
    is the natural general-arity extension from the binary-fuse paper
    (Graf & Lemire 2022, §2).

    Why the second mix: mulhi(h, scl) is driven by the HIGH bits of h,
    and three disjoint 18-bit offset windows consume 54 bits — any
    placement of them in the same 64-bit word overlaps the segment-
    selection bits once scl is large.  Offset windows correlated with
    the segment choice break peelability (measured: at n=5M, load 0.93,
    windows [42:60)/[21:39)/[0:18) peel only ~22% of rows on EVERY
    seed).  Re-mixing costs three multiply/xor ops per key and makes
    the offsets independent of h0 for every filter size; the 3-wise map
    never needs this because its two windows fit in the low 36 bits."""
    hashes = np.asarray(hashes, dtype=U64)
    sl = segment_length & MASK32
    mask = segment_length_mask & MASK32
    h0 = mulhi(hashes, segment_count_length)
    h0 &= MASK32
    oh = murmur64(hashes, copy=True)
    h1 = ((h0 + sl) & MASK32) ^ ((oh >> 36) & mask)
    h2 = ((h0 + 2 * sl) & MASK32) ^ ((oh >> 18) & mask)
    h3 = ((h0 + 3 * sl) & MASK32) ^ (oh & mask)
    return h0, h1, h2, h3


_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def murmur3_int(values: np.ndarray, seed: int = 42) -> np.ndarray:
    """Murmur3_x86_32 of 4-byte ints as uint32 — the bits of Spark's
    ``F.hash(intCol)`` (default seed 42), the hash Spark's
    HashPartitioning and ``bucketBy`` take ``pmod`` of."""
    k = np.asarray(values).astype(np.uint32) * np.uint32(0xCC9E2D51)
    k = (k << np.uint32(15)) | (k >> np.uint32(17))
    k *= np.uint32(0x1B873593)
    h = np.uint32(seed) ^ k
    h = (h << np.uint32(13)) | (h >> np.uint32(19))
    h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(4)           # the input length in bytes
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def xxhash64_long(values: np.ndarray, seed: int = 42) -> np.ndarray:
    """XXH64 of a single 8-byte little-endian long — bit-identical to
    Spark's ``F.xxhash64(longCol)`` (default seed 42).

    Implemented from the published XXH64 specification for the one-block
    case; lets shard routing run JVM-side (no Python in the build path)
    while the probe side reproduces the same routing in numpy.
    """
    v = to_uint64(np.asarray(values))
    k1 = v * _XXP2
    k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
    k1 *= np.uint64(_XXP1)
    h = np.uint64((seed + _XXP5 + 8) & MASK64) ^ k1
    h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * np.uint64(_XXP1) \
        + np.uint64(_XXP4)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_XXP2)
    h ^= h >> np.uint64(29)
    h *= np.uint64(_XXP3)
    h ^= h >> np.uint64(32)
    return h


def to_uint64(arr) -> np.ndarray:
    """Coerce an int64/uint64/object array (e.g. from Arrow) to np.uint64
    preserving the two's-complement bit pattern."""
    a = np.asarray(arr)
    if a.dtype == np.uint64:
        return a
    if a.dtype == np.int64:
        return a.view(np.uint64)
    if a.dtype == object:  # Python ints possibly > 2^63
        return np.array([int(x) & MASK64 for x in a], dtype=U64)
    return a.astype(np.int64).view(np.uint64)


def to_int64(arr: np.ndarray) -> np.ndarray:
    """uint64 -> int64 bit-pattern view (for handing back to Spark)."""
    a = np.asarray(arr, dtype=U64)
    return a.view(np.int64)
