"""Single-process xor / binary-fuse filters (the per-shard build kernel).

From-scratch numpy re-implementations of the reference library's four filter
types plus a fuse32 extension:

- Xor8 / Xor16           -> /root/reference/include/xorfilter.h:88-180, 659-858
- Fuse8 / Fuse16         -> /root/reference/include/binaryfusefilter.h:68-460, 466-754
- Fuse32                 -> width generalization (no reference twin; same layout)

Parity with the reference (verified by tests/test_reference_parity.py
against the compiled C library used as a black-box oracle):

- identical sizing formulas (uint32 wraparound included),
- identical seed-retry chain (splitmix64 from the same start counters,
  reseed on failed attempt, xor dedups at attempt 10, <=100 attempts),
- identical duplicate-tolerance semantics,
- identical serialization header layout (little-endian),
- zero false negatives and the same fpp/bits-per-entry guarantees.

Two build tiers share the exact same seed-retry semantics (the probe,
``contain``, is numpy on both):

- **native** (default when a C compiler exists): the hot loops run in
  fastfilter_spark/native/ffkernel.c via ctypes — segment/bucket-ordered
  counting sort fused with state accumulation, then a sequential queue
  peel (functions/native.py).  ~10M keys/s per core for fuse8; measured
  1.74x the reference library compiled on the same machine (BENCH.md).
- **numpy fallback** (FASTFILTER_NO_NATIVE=1 or no compiler): the peel
  runs as a vectorized *wavefront* — every currently-singleton cell
  peels per round with numpy scatter ops.

Deliberate divergence from the reference's sequential LIFO queue order
(xorfilter.h:741-828, binaryfusefilter.h:387-424): the peelable set of
a 3-uniform hypergraph is order-independent (the 2-core is unique), so
success/failure — and therefore the seed chain — is identical for every
input and both tiers (verified against the compiled reference in
tests/test_reference_parity.py); only the order fingerprint cells are
*assigned* in differs, and any valid peel order yields a correct filter
(each key's peel cell is written exactly once, after every cell it
reads).

The distributed build feeds keys through np.unique (operators/dist.py),
so filter bytes are invariant under input permutation/partition order
(BASELINE.md target) on both tiers.
"""

from __future__ import annotations

import math
import struct
import sys
from dataclasses import dataclass

import numpy as np

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.functions import native

U64 = np.uint64
_MASK32 = 0xFFFFFFFF


class ConstructionError(RuntimeError):
    """Raised when populate fails after XOR_MAX_ITERATIONS seeds (the
    reference returns false; probability is cosmic-ray scale)."""


# ---------------------------------------------------------------------------
# sizing
# ---------------------------------------------------------------------------

def xor_block_length(size: int) -> int:
    """capacity = 32 + 1.23*size floored to a multiple of 3; blockLength =
    capacity/3 (xorfilter.h:134-143).  ~9.84 bits/entry for 8-bit prints."""
    capacity = int(32 + 1.23 * size)
    capacity = capacity // 3 * 3
    return capacity // 3


def fuse_segment_length(arity: int, size: int) -> int:
    """1 << floor(log(size)/log(3.33) + 2.25) for arity 3
    (binaryfusefilter.h:189-200).  The reference warns these constants are
    'very sensitive'; they are reproduced exactly."""
    if size == 0:
        return 4  # caller special-case in allocate (binaryfusefilter.h:227)
    if arity == 3:
        return 1 << int(math.floor(math.log(size) / math.log(3.33) + 2.25))
    if arity == 4:
        # the reference's dead-code formula goes negative for size < 5
        # (1 << -1 raises); clamp the exponent at 0 like the size==0
        # special case clamps the length
        return 1 << max(0, int(math.floor(
            math.log(size) / math.log(2.91) - 0.5)))
    return 65536


def fuse_size_factor(arity: int, size: int) -> float:
    """max(1.125, 0.875 + 0.25*ln(1e6)/ln(size)) for arity 3
    (binaryfusefilter.h:209-218)."""
    if arity == 3:
        return max(1.125, 0.875 + 0.25 * math.log(1000000.0) / math.log(size))
    if arity == 4:
        return max(1.075, 0.77 + 0.305 * math.log(600000.0) / math.log(size))
    return 2.0


def fuse_layout(size: int, arity: int = 3) -> tuple[int, int, int, int]:
    """(SegmentLength, SegmentCount, SegmentCountLength, ArrayLength) exactly
    as binary_fuse8_allocate computes them (binaryfusefilter.h:223-251),
    including the uint32 wraparound for degenerate sizes 0/1 where
    initSegmentCount underflows."""
    segment_length = 4 if size == 0 else min(fuse_segment_length(arity, size), 262144)
    if size <= 1:
        capacity = 0
    else:
        # C round() is half-away-from-zero, unlike Python's banker rounding
        capacity = int(math.floor(size * fuse_size_factor(arity, size) + 0.5)) & _MASK32
    init_segment_count = (((capacity + segment_length - 1) // segment_length)
                          - (arity - 1)) & _MASK32
    array_length = ((init_segment_count + arity - 1) * segment_length) & _MASK32
    segment_count = (array_length + segment_length - 1) // segment_length
    if segment_count <= arity - 1:
        segment_count = 1
    else:
        segment_count = segment_count - (arity - 1)
    array_length = (segment_count + arity - 1) * segment_length
    segment_count_length = segment_count * segment_length
    return segment_length, segment_count, segment_count_length, array_length


# ---------------------------------------------------------------------------
# shared wavefront peel
# ---------------------------------------------------------------------------

def _peel(n_cells: int, *gs: np.ndarray,
          fail_if_count_ge: int | None = None):
    """Wavefront hypergraph peel over precomputed per-key cell tuples
    (3-wise for xor/fuse arity 3, 4-wise for fuse arity 4).

    ``gs`` are int32 arrays (one global cell index per key row).  Per
    cell we track ``counts`` (remaining keys) and ``rowmask`` (XOR of the
    row ids of remaining keys); when a cell's count reaches 1 its rowmask IS
    the remaining row id, so the peel loop needs no hash arithmetic at all.
    Each round peels every currently-singleton cell at once, then only the
    cells touched this round are candidates for the next — total work is
    O(keys), not O(rounds * cells).  (Near the load threshold the peel
    depth is ~sqrt(n) rounds, which is what makes per-round full scans or a
    per-key interpreter loop — the reference's queue, xorfilter.h:741-828 —
    unaffordable in Python.)

    The peelable set of a 3-uniform hypergraph is order-independent (the
    2-core is unique), so success/failure per seed — and therefore the
    seed-retry chain — is identical to the reference's sequential LIFO
    peel; only the assignment order differs, and any valid peel order
    yields a correct filter.

    Returns (rounds, total_peeled); each round is (rows, peel_cells).
    """
    rows_all = np.arange(gs[0].size, dtype=np.int32)
    counts = np.bincount(gs[0], minlength=n_cells)
    for g in gs[1:]:
        counts += np.bincount(g, minlength=n_cells)
    counts = counts.astype(np.int32)
    if fail_if_count_ge is not None and gs[0].size and \
            int(counts.max()) >= fail_if_count_ge:
        return [], -1
    rowmask = np.zeros(n_cells, dtype=np.int32)
    for g in gs:
        np.bitwise_xor.at(rowmask, g, rows_all)

    cand = np.flatnonzero(counts == 1)
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    total = 0
    while cand.size:
        cells = cand[counts[cand] == 1]
        if cells.size == 0:
            break
        # a key singleton in several cells appears once per cell — peel each
        # key exactly once, at its MINIMUM singleton cell.  The min-cell
        # choice is canonical (a set property), which keeps the filter bytes
        # invariant under input permutation even though row ids are input
        # positions.  Sort once on a packed (row, cell) key.
        packed = rowmask[cells].astype(np.int64)
        packed <<= 32
        packed |= cells
        packed.sort()
        keep = np.empty(packed.size, dtype=bool)
        keep[0] = True
        np.not_equal(packed[1:] >> 32, packed[:-1] >> 32, out=keep[1:])
        packed = packed[keep]
        rows = (packed >> 32).astype(np.int32)
        cells = (packed & 0xFFFFFFFF).astype(np.int32)
        rounds.append((rows, cells))
        total += rows.size
        # segmented decrement/XOR per touched cell (ufunc.at is ~200ns/elem;
        # a small sort + reduceat is several times faster)
        upd = np.concatenate([g[rows] for g in gs])
        r3 = np.tile(rows, len(gs))
        order = np.argsort(upd, kind="stable")
        u_s = upd[order]
        r_s = r3[order]
        boundary = np.empty(u_s.size, dtype=bool)
        boundary[0] = True
        np.not_equal(u_s[1:], u_s[:-1], out=boundary[1:])
        starts = np.flatnonzero(boundary)
        uniq = u_s[starts]
        counts[uniq] -= np.diff(np.append(starts, u_s.size)).astype(np.int32)
        rowmask[uniq] ^= np.bitwise_xor.reduceat(r_s, starts)
        cand = uniq
    return rounds, total


def _assign_fingerprints(fp: np.ndarray, rounds, fp_source: np.ndarray,
                         *gs: np.ndarray):
    """Assign fingerprints in reverse peel order (vectorized per round).

    fp[peel_cell] = fingerprint ^ XOR_i fp[g_i] works because
    fp[peel_cell] is still 0 (each cell is a peel cell at most once) and no
    cell read here is written by a later assignment (a peel cell was
    singleton, so every other key touching it peeled — and is assigned —
    earlier in reverse order).  Mirrors xorfilter.h:836-852 /
    binaryfusefilter.h:439-452 for an arbitrary valid peel order, any arity.
    """
    for rows, cells in reversed(rounds):
        val = fp_source[rows]
        for g in gs:
            val = val ^ fp[g[rows]]
        fp[cells] = val


# ---------------------------------------------------------------------------
# xor filters
# ---------------------------------------------------------------------------

@dataclass
class XorFilter:
    """xor8/xor16 (xorfilter.h:88-115): 3 blocks of blockLength cells."""

    seed: int
    block_length: int
    fingerprints: np.ndarray  # uint8 or uint16, len = 3*blockLength
    fingerprint_bits: int

    KIND_BITS = {8: "xor8", 16: "xor16"}

    @property
    def kind(self) -> str:
        return self.KIND_BITS[self.fingerprint_bits]

    @property
    def empty(self) -> bool:
        """Holds no key (``empty_filter``): a build over one or more
        keys has a longer block."""
        return self.block_length == xor_block_length(0)

    @classmethod
    def build(cls, keys, fingerprint_bits: int = 8) -> "XorFilter":
        """allocate+populate (xorfilter.h:134-156, 659-858): seed-retry chain
        from counter=1, dedup at attempt 10, <=100 attempts."""
        keys = K.to_uint64(keys)
        size = keys.size
        if size == 0:
            # xor8_populate returns false for size 0 (xorfilter.h:660)
            raise ConstructionError("xor filters cannot be built over 0 keys")
        dtype = np.uint8 if fingerprint_bits == 8 else np.uint16
        block_length = xor_block_length(size)
        array_length = 3 * block_length
        rng_state = K.XOR_RNG_START
        rng_state, seed = K.splitmix64(rng_state)
        bl = block_length
        nat = native.get_kernel()

        def triple(hashes):
            h0, h1, h2 = K.xor_index_triple(hashes, bl)
            return (h0.astype(np.int32), (h1 + U64(bl)).astype(np.int32),
                    (h2 + U64(2 * bl)).astype(np.int32))

        iterations = 0
        while True:
            iterations += 1
            if iterations == K.XOR_SORT_ITERATIONS:
                keys = np.unique(keys)  # sort+dedup (xorfilter.h:24-34,692-694)
                size = keys.size
            if iterations > K.XOR_MAX_ITERATIONS:
                raise ConstructionError("xor populate failed after 100 seeds")
            if nat is not None:
                hashes, g0, g1, g2 = nat.xor_prepare(keys, seed, bl,
                                                     array_length)
                peel_out, peeled = nat.peel_pre(array_length, hashes,
                                                g0, g1, g2)
            else:
                hashes = K.mix_split(keys, seed)
                g0, g1, g2 = triple(hashes)
                rounds, peeled = _peel(array_length, g0, g1, g2)
            if peeled == size:
                break
            rng_state, seed = K.splitmix64(rng_state)

        fp = np.zeros(array_length, dtype=dtype)
        if nat is not None:
            nat.assign(peeled, peel_out, fp)
        else:
            fp_source = K.fingerprint64(hashes).astype(dtype)
            _assign_fingerprints(fp, rounds, fp_source, g0, g1, g2)
        return cls(seed=seed, block_length=block_length, fingerprints=fp,
                   fingerprint_bits=fingerprint_bits)

    def contain(self, keys) -> np.ndarray:
        """Vectorized membership probe (xorfilter.h:96-108); False
        throughout for an empty filter."""
        keys = K.to_uint64(keys)
        if self.empty:
            return np.zeros(keys.size, dtype=bool)
        hashes = K.mix_split(keys, self.seed)
        dtype = self.fingerprints.dtype
        f = K.fingerprint64(hashes).astype(dtype)
        h0, h1, h2 = K.xor_index_triple(hashes, self.block_length)
        bl = self.block_length
        fp = self.fingerprints
        got = (fp[h0.astype(np.int64)]
               ^ fp[h1.astype(np.int64) + bl]
               ^ fp[h2.astype(np.int64) + 2 * bl])
        return f == got

    def size_in_bytes(self) -> int:
        """In-core bytes (xorfilter.h:159-166): array + 24-byte struct."""
        return self.fingerprints.nbytes + 24

    def to_bytes(self) -> bytes:
        """Wire format (xorfilter.h:1296-1313): seed u64 | blockLength u64 |
        fingerprints, little-endian."""
        return struct.pack("<QQ", self.seed, self.block_length) + \
            self.fingerprints.astype(self.fingerprints.dtype.newbyteorder("<")).tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes, fingerprint_bits: int = 8,
                   view: bool = False) -> "XorFilter":
        """``view=True`` keeps a ZERO-COPY read-only view over the
        caller-owned buffer (bytes / memoryview / mmap) — the analog of
        the reference's caller-owned ``deserialize_header``
        (binaryfusefilter.h:813-880).  Probing only reads, so a view
        filter is fully functional while the buffer stays the single
        copy in memory (broadcast blobs, mmap'd filter files).
        Little-endian hosts only (the wire format is LE); big-endian
        hosts fall back to the copying path."""
        seed, block_length = struct.unpack_from("<QQ", buf, 0)
        dtype = np.dtype(np.uint8 if fingerprint_bits == 8 else np.uint16).newbyteorder("<")
        fp = np.frombuffer(buf, dtype=dtype, count=3 * block_length, offset=16)
        if not (view and sys.byteorder == "little"):
            fp = np.ascontiguousarray(fp).astype(fp.dtype.newbyteorder("="))
        return cls(seed=seed, block_length=block_length, fingerprints=fp,
                   fingerprint_bits=fingerprint_bits)

    def pack(self) -> bytes:
        """Sparse wire format (xorfilter.h:1373-1412): header, bitset of
        nonzero cells (LSB-first within bytes), then nonzero fingerprints."""
        nz = self.fingerprints != 0
        bits = np.packbits(nz, bitorder="little")
        return (struct.pack("<QQ", self.seed, self.block_length)
                + bits.tobytes()
                + self.fingerprints[nz].astype(
                    self.fingerprints.dtype.newbyteorder("<")).tobytes())

    @classmethod
    def unpack(cls, buf: bytes, fingerprint_bits: int = 8) -> "XorFilter":
        seed, block_length = struct.unpack_from("<QQ", buf, 0)
        capacity = 3 * block_length
        bsz = (capacity + 7) // 8
        bits = np.frombuffer(buf, dtype=np.uint8, count=bsz, offset=16)
        nz = np.unpackbits(bits, bitorder="little")[:capacity].astype(bool)
        dtype = np.dtype(np.uint8 if fingerprint_bits == 8 else np.uint16)
        vals = np.frombuffer(buf, dtype=dtype.newbyteorder("<"),
                             count=int(nz.sum()), offset=16 + bsz)
        fp = np.zeros(capacity, dtype=dtype)
        fp[nz] = vals
        return cls(seed=seed, block_length=block_length, fingerprints=fp,
                   fingerprint_bits=fingerprint_bits)


# ---------------------------------------------------------------------------
# binary fuse filters
# ---------------------------------------------------------------------------

@dataclass
class FuseFilter:
    """binary fuse 8/16 (+32 extension): one flat array of
    (SegmentCount + arity - 1) * SegmentLength cells
    (binaryfusefilter.h:68-77, 223-251)."""

    seed: int
    size: int               # requested size at allocation (serialized as-is)
    segment_length: int
    segment_count: int
    segment_count_length: int
    array_length: int
    fingerprints: np.ndarray  # uint8 / uint16 / uint32
    fingerprint_bits: int
    arity: int = 3            # 3 = reference-compatible; 4 = extension

    KIND_BITS = {8: "fuse8", 16: "fuse16", 32: "fuse32"}
    _DTYPES = {8: np.uint8, 16: np.uint16, 32: np.uint32}

    @property
    def kind(self) -> str:
        return self.KIND_BITS[self.fingerprint_bits]

    @property
    def segment_length_mask(self) -> int:
        return self.segment_length - 1

    @property
    def empty(self) -> bool:
        """Built over no key (the wire header's Size is 0)."""
        return self.size == 0

    @classmethod
    def build(cls, keys, fingerprint_bits: int = 8,
              arity: int = 3) -> "FuseFilter":
        """allocate+populate (binaryfusefilter.h:223-251, 280-460).

        Seed chain from counter=0x726b2b9d438b9d4d; reseed on failed attempt;
        a failed attempt that saw duplicates dedups the keys (:430-432);
        <=100 attempts.  Duplicate handling: the reference detects a
        duplicate at insertion (a cell reaching t2hash==0 with exactly two
        keys — possible only for true duplicates since the seeded hash is a
        bijection) and backs out the extra copy (:359-373), leaving exactly
        the state of the unique key set with `duplicates` = extras; we
        compute the same state by re-running the attempt over
        np.unique(keys) (same hash set, since the seeded hash is a
        bijection) and the same success condition peeled + duplicates ==
        size (:425).

        ``arity=4`` builds a 4-wise fuse filter with the reference's
        arity-4 sizing constants (binaryfusefilter.h:196-198/214-216 —
        dead code there; the reference hashes 3-wise only) and the
        general-arity hash extension (kernels.fuse_index_quad).  ~7-8%
        fewer bits/entry at the cost of a denser hypergraph.  Both the
        native kernel and the numpy tier implement the 4-wise map
        (ffkernel.c ff_fuse_prepare4/ff_peel_pre4; differential-tested
        in tests/test_native.py).

        WIRE-FORMAT NOTE (arity 4 only): the 4-wise cell map's offset
        windows changed in round 3 (now drawn from a second murmur mix;
        the previous derivation overlapped the segment-map bits and
        left large builds unpeelable), so arity-4 payloads serialized
        by earlier revisions probe incorrectly under this code and vice
        versa.  The wire layout itself is unchanged and carries no hash
        version, so the mismatch is NOT detected — rebuild any
        pre-round-3 arity-4 blobs.  Arity-3 payloads (the
        reference-compatible format) are unaffected at every revision.
        """
        if arity not in (3, 4):
            raise ValueError("arity must be 3 or 4")
        keys = K.to_uint64(keys)
        size = keys.size
        dtype = cls._DTYPES[fingerprint_bits]
        seg_len, seg_cnt, seg_cnt_len, array_length = fuse_layout(size, arity)
        mask = seg_len - 1
        rng_state = K.FUSE_RNG_START
        rng_state, seed = K.splitmix64(rng_state)
        nat = native.get_kernel()

        def attempt_seed(current, seed):
            # peeled = -1 on a cell of 64+ keys: the reference's 6-bit
            # counter wraps there and aborts (binaryfusefilter.h:374-377)
            if nat is not None:
                hashes, *gs = nat.fuse_prepare(
                    current, seed, seg_len, seg_cnt_len, seg_cnt,
                    array_length, arity=arity)
                if nat.state_overflow(array_length):
                    return hashes, gs, None, -1
                return (hashes, gs,
                        *nat.peel_pre(array_length, hashes, *gs))
            hashes = K.mix_split(current, seed)
            index = K.fuse_index_quad if arity == 4 else K.fuse_index_triple
            gs = [g.astype(np.int32)
                  for g in index(hashes, seg_len, mask, seg_cnt_len)]
            return (hashes, gs,
                    *_peel(array_length, *gs, fail_if_count_ge=64))

        current = keys
        attempt = 0
        while True:
            attempt += 1
            if attempt > K.XOR_MAX_ITERATIONS:
                raise ConstructionError("fuse populate failed after 100 seeds")
            hashes, gs, rounds, peeled = attempt_seed(current, seed)
            if peeled != current.size:
                # duplicates never peel: rerun this seed over the unique
                # keys, as the reference backs them out in-attempt
                # (:359-373, :425), and keep them for later seeds (:430)
                uniq = np.unique(current)
                if uniq.size < current.size:
                    current = uniq
                    hashes, gs, rounds, peeled = attempt_seed(current, seed)
            if peeled == current.size:
                break
            rng_state, seed = K.splitmix64(rng_state)

        fp = np.zeros(array_length, dtype=dtype)
        if nat is not None:
            nat.assign(peeled, rounds, fp)
        else:
            fp_source = K.fingerprint64(hashes).astype(dtype)
            _assign_fingerprints(fp, rounds, fp_source, *gs)
        return cls(seed=seed, size=size, segment_length=seg_len,
                   segment_count=seg_cnt, segment_count_length=seg_cnt_len,
                   array_length=array_length, fingerprints=fp,
                   fingerprint_bits=fingerprint_bits, arity=arity)

    def contain(self, keys) -> np.ndarray:
        """Vectorized probe (binaryfusefilter.h:178-187):
        fingerprint ^ XOR_i fp[h_i] == 0 (3- or 4-wise per self.arity);
        False throughout for an empty filter."""
        keys = K.to_uint64(keys)
        if self.empty:
            return np.zeros(keys.size, dtype=bool)
        hashes = K.mix_split(keys, self.seed)
        f = K.fingerprint64(hashes).astype(self.fingerprints.dtype)
        index = K.fuse_index_quad if self.arity == 4 else K.fuse_index_triple
        gs = index(hashes, self.segment_length, self.segment_length_mask,
                   self.segment_count_length)
        fp = self.fingerprints
        for g in gs:
            f ^= fp[g.astype(np.int64)]
        return f == 0

    def size_in_bytes(self) -> int:
        """In-core bytes (binaryfusefilter.h:254-256): array + 40-byte struct."""
        return self.fingerprints.nbytes + 40

    def to_bytes(self) -> bytes:
        """Wire format (binaryfusefilter.h:792-806): Seed u64 | Size u32 |
        SegmentLength u32 | SegmentCount u32 | SegmentCountLength u32 |
        ArrayLength u32 | fingerprints; little-endian.  (The reference's
        fuse16_serialization_bytes also *counts* SegmentLengthMask but
        serialize never writes it — we write what serialize writes.)"""
        return struct.pack("<QIIIII", self.seed, self.size, self.segment_length,
                           self.segment_count, self.segment_count_length,
                           self.array_length) + \
            self.fingerprints.astype(self.fingerprints.dtype.newbyteorder("<")).tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes, fingerprint_bits: int = 8,
                   arity: int | None = None,
                   view: bool = False) -> "FuseFilter":
        """``view=True``: zero-copy read-only view over the caller-owned
        buffer (see XorFilter.from_bytes; binaryfusefilter.h:813-880).

        The wire header (reference layout) does not carry arity, so it
        is INFERRED: the stored layout fields must equal
        ``fuse_layout(size, a)`` for exactly one arity (the 3- and
        4-wise sizing formulas never coincide for a given size).  A
        blindly-assumed wrong arity would mis-index every probe —
        near-total silent false negatives — hence passing ``arity``
        explicitly only validates against the inference."""
        seed, size, seg_len, seg_cnt, seg_cnt_len, array_length = \
            struct.unpack_from("<QIIIII", buf, 0)
        stored = (seg_len, seg_cnt, seg_cnt_len, array_length)
        inferred = [a for a in (3, 4) if fuse_layout(size, a) == stored]
        if not inferred:
            raise ValueError(
                f"fuse wire header layout {stored} matches neither the "
                f"3- nor 4-wise allocation formulas for size={size}; "
                "corrupt or foreign bytes")
        if arity is not None and arity not in inferred:
            raise ValueError(
                f"arity={arity} contradicts the wire header (layout is "
                f"{inferred[0]}-wise for size={size})")
        arity = arity if arity is not None else inferred[0]
        dtype = np.dtype(cls._DTYPES[fingerprint_bits]).newbyteorder("<")
        fp = np.frombuffer(buf, dtype=dtype, count=array_length, offset=28)
        if not (view and sys.byteorder == "little"):
            fp = np.ascontiguousarray(fp).astype(fp.dtype.newbyteorder("="))
        return cls(seed=seed, size=size, segment_length=seg_len,
                   segment_count=seg_cnt, segment_count_length=seg_cnt_len,
                   array_length=array_length, fingerprints=fp,
                   fingerprint_bits=fingerprint_bits, arity=arity)

    def pack(self) -> bytes:
        """Sparse wire format (binaryfusefilter.h:902-940): Seed u64 |
        Size u32 | bitset of nonzero cells | nonzero fingerprints."""
        nz = self.fingerprints != 0
        bits = np.packbits(nz, bitorder="little")
        return (struct.pack("<QI", self.seed, self.size) + bits.tobytes()
                + self.fingerprints[nz].astype(
                    self.fingerprints.dtype.newbyteorder("<")).tobytes())

    @classmethod
    def unpack(cls, buf: bytes, fingerprint_bits: int = 8,
               arity: int = 3) -> "FuseFilter":
        """Rebuild from packed bytes; layout params recomputed from Size via
        the allocate formulas, exactly like the reference unpack
        (binaryfusefilter.h:942-967)."""
        seed, size = struct.unpack_from("<QI", buf, 0)
        seg_len, seg_cnt, seg_cnt_len, array_length = fuse_layout(size, arity)
        bsz = (array_length + 7) // 8
        bits = np.frombuffer(buf, dtype=np.uint8, count=bsz, offset=12)
        nz = np.unpackbits(bits, bitorder="little")[:array_length].astype(bool)
        dtype = np.dtype(cls._DTYPES[fingerprint_bits])
        expected = 12 + bsz + int(nz.sum()) * dtype.itemsize
        if len(buf) != expected:
            # the packed header carries only (seed, size); a wrong arity
            # assumption changes array_length and hence the bitset span,
            # which (absent astronomical coincidence) breaks this exact
            # length identity — fail loudly instead of mis-probing
            raise ValueError(
                f"packed fuse buffer is {len(buf)} bytes but the "
                f"{arity}-wise layout for size={size} implies {expected}; "
                "wrong arity= argument or corrupt bytes")
        vals = np.frombuffer(buf, dtype=dtype.newbyteorder("<"),
                             count=int(nz.sum()), offset=12 + bsz)
        fp = np.zeros(array_length, dtype=dtype)
        fp[nz] = vals
        return cls(seed=seed, size=size, segment_length=seg_len,
                   segment_count=seg_cnt, segment_count_length=seg_cnt_len,
                   array_length=array_length, fingerprints=fp,
                   fingerprint_bits=fingerprint_bits, arity=arity)


def empty_filter(kind: str):
    """A valid filter over the empty key set (all-zero fingerprints)
    that every probe answers False, as ``probe_via_join`` answers for a
    shard with no filter row.  Needed because the reference's xor
    populate rejects size 0 (xorfilter.h:660) but a sharded/streaming
    engine must represent 'shard with no keys yet' for every kind."""
    if kind in ("xor8", "xor16"):
        bits = 8 if kind == "xor8" else 16
        _, seed = K.splitmix64(K.XOR_RNG_START)
        bl = xor_block_length(0)
        return XorFilter(seed=seed, block_length=bl,
                         fingerprints=np.zeros(3 * bl, dtype=np.uint8 if bits == 8
                                               else np.uint16),
                         fingerprint_bits=bits)
    return FuseFilter.build(np.empty(0, dtype=np.uint64), int(kind[4:]))


# convenience constructors matching the reference's four types + fuse32
def build_filter(keys, kind: str, arity: int = 3):
    """kind in {xor8, xor16, fuse8, fuse16, fuse32}; ``arity=4`` selects
    the 4-wise fuse extension (fuse kinds only — deserialization infers
    arity from the wire layout, so downstream probes need no flag)."""
    if kind in ("xor8", "xor16"):
        if arity != 3:
            raise ValueError("arity applies to fuse kinds only")
        return XorFilter.build(keys, int(kind[3:]))
    if kind in ("fuse8", "fuse16", "fuse32"):
        return FuseFilter.build(keys, int(kind[4:]), arity=arity)
    raise ValueError(f"unknown filter kind: {kind}")


def filter_from_bytes(buf: bytes, kind: str, view: bool = False):
    """``view=True``: zero-copy deserialization (see
    XorFilter.from_bytes) — the probe paths use it so broadcast payload
    bytes stay the only copy per worker."""
    if kind in ("xor8", "xor16"):
        return XorFilter.from_bytes(buf, int(kind[3:]), view=view)
    if kind in ("fuse8", "fuse16", "fuse32"):
        return FuseFilter.from_bytes(buf, int(kind[4:]), view=view)
    raise ValueError(f"unknown filter kind: {kind}")
