"""Mergeable sketches: HyperLogLog, count-min, Bloom, KLL, t-digest.

Mandated by BASELINE.json:north_rule (the reference library,
FastFilter/xor_singleheader, contains none of these — its only sketches
are the xor/fuse membership filters in operators/local.py).  Correctness
oracle is therefore each algorithm's *published error bound*, not
reference code:

- HyperLogLog: Flajolet et al. 2007, standard error 1.04/sqrt(m),
  with linear-counting small-range correction.
- Count-min: Cormode & Muthukrishnan 2005, overestimate <= eps*N with
  probability >= 1-delta for w=ceil(e/eps), d=ceil(ln(1/delta)).
- Bloom: fpp ~= (1 - e^{-kn/m})^k.
- KLL: Karnin, Lang, Liberman 2016, rank error eps ~= O(1/k) with
  capacity schedule c^(H-h); we use c=2/3.
- t-digest: Dunning & Ertl 2019, merging variant with the k1
  (arcsine) scale function.

Design rules shared by all five:

- ``update`` is vectorized over numpy arrays (called from Arrow batches
  in the Spark layer; no per-row Python).
- ``merge`` is commutative/associative (HLL: elementwise max; CMS:
  elementwise add; Bloom: bitwise or; KLL/t-digest: weighted merge with
  deterministic compaction), so partial sketches combine in any
  partition order — the property the north_rule requires and
  tests/test_sketches.py checks.
- ``to_bytes``/``from_bytes`` give a stable little-endian wire format so
  partials travel as BinaryType columns between Spark stages.

Hashing reuses the exact-uint64 murmur64/splitmix kernels
(functions/kernels.py) so sketch behavior is deterministic across
machines and runs.
"""

from __future__ import annotations

import struct

import numpy as np

from fastfilter_spark.functions import kernels as K

U64 = np.uint64
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _hash_values(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """uint64 hash of an int/uint array (murmur64 over seed-mixed keys)."""
    return K.mix_split(K.to_uint64(np.asarray(values)), seed)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

class HyperLogLog:
    """Dense HLL with 2^p 6-bit-equivalent registers (stored uint8)."""

    MAGIC = b"HLL1"
    SPARSE_MAGIC = b"HLS1"

    def __init__(self, p: int = 12, registers: np.ndarray | None = None):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.registers = (np.zeros(self.m, dtype=np.uint8)
                          if registers is None else registers)

    @property
    def relative_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def update(self, values: np.ndarray, seed: int = 0) -> "HyperLogLog":
        h = _hash_values(values, seed)
        idx = (h >> (64 - self.p)).astype(np.int64)
        w = (h << np.uint64(self.p)) | np.uint64(1 << (self.p - 1))  # sentinel
        # rho = (leading zeros of w) + 1, via a vectorized bit scan; the
        # float-log2 trick is unsafe near 2^63 (53-bit mantissa).  The
        # sentinel bit bounds rho at 64-p+1, so <= 64-p iterations.
        rho = np.ones(w.size, dtype=np.uint8)
        active = np.ones(w.size, dtype=bool)
        probe = np.uint64(1) << np.uint64(63)
        for _ in range(64 - self.p):
            active &= (w & probe) == 0
            if not active.any():
                break
            rho[active] += 1
            probe >>= np.uint64(1)
        np.maximum.at(self.registers, idx, rho)
        return self

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if other.p != self.p:
            raise ValueError("HLL precision mismatch")
        return HyperLogLog(self.p, np.maximum(self.registers, other.registers))

    def estimate(self) -> float:
        m = self.m
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
            m, 0.7213 / (1 + 1.079 / m))
        est = alpha * m * m / np.sum(np.exp2(-self.registers.astype(np.float64)))
        if est <= 2.5 * m:
            zeros = int(np.count_nonzero(self.registers == 0))
            if zeros:
                est = m * np.log(m / zeros)  # linear counting
        return float(est)

    def to_bytes(self) -> bytes:
        # Sparse encoding when it is strictly smaller: at web scale the
        # grouped path (sketch_by_key) shuffles one blob per (task, key)
        # and MOST keys are small — a host with 12 distinct URLs fills
        # ~12 of 4096 registers, so shipping (index:u32, rho:u8) pairs
        # (5 B/entry + 9 B header) instead of the dense 2^p register
        # array cuts the exchange from 4 KB to ~70 B per partial.  The
        # in-memory form stays dense (update/merge are unchanged); only
        # the wire format adapts.  Cutover at nnz*5+9 < m+5.
        nz = np.flatnonzero(self.registers)
        if nz.size * 5 + 4 < self.m:
            return (self.SPARSE_MAGIC + struct.pack("<BI", self.p, nz.size)
                    + nz.astype(np.uint32).tobytes()
                    + self.registers[nz].tobytes())
        return self.MAGIC + struct.pack("<B", self.p) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "HyperLogLog":
        if buf[:4] == cls.SPARSE_MAGIC:
            p, nnz = struct.unpack_from("<BI", buf, 4)
            idx = np.frombuffer(buf, dtype=np.uint32, count=nnz, offset=9)
            rho = np.frombuffer(buf, dtype=np.uint8, count=nnz,
                                offset=9 + 4 * nnz)
            regs = np.zeros(1 << p, dtype=np.uint8)
            regs[idx.astype(np.int64)] = rho
            return cls(p, regs)
        assert buf[:4] == cls.MAGIC
        p = struct.unpack_from("<B", buf, 4)[0]
        regs = np.frombuffer(buf, dtype=np.uint8, count=1 << p, offset=5).copy()
        return cls(p, regs)


# ---------------------------------------------------------------------------
# Count-min
# ---------------------------------------------------------------------------

class CountMin:
    """d x w counter matrix; point query = min over rows."""

    MAGIC = b"CMS1"

    def __init__(self, width: int = 2048, depth: int = 5,
                 table: np.ndarray | None = None, total: int = 0):
        self.width = width
        self.depth = depth
        self.table = (np.zeros((depth, width), dtype=np.int64)
                      if table is None else table)
        self.total = total  # sum of all counts (for eps*N bound checks)

    @classmethod
    def from_error(cls, eps: float, delta: float) -> "CountMin":
        w = int(np.ceil(np.e / eps))
        d = int(np.ceil(np.log(1 / delta)))
        return cls(width=w, depth=d)

    def _rows(self, values: np.ndarray) -> np.ndarray:
        """(d, n) column indices; row i uses seed i via mix_split."""
        idx = np.empty((self.depth, len(values)), dtype=np.int64)
        for i in range(self.depth):
            h = _hash_values(values, seed=0x9E3779B9 + i)
            idx[i] = K.reduce32((h & 0xFFFFFFFF), self.width).astype(np.int64)
        return idx

    def update(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountMin":
        values = np.asarray(values)
        c = (np.ones(len(values), dtype=np.int64)
             if counts is None else np.asarray(counts, dtype=np.int64))
        idx = self._rows(values)
        for i in range(self.depth):
            np.add.at(self.table[i], idx[i], c)
        self.total += int(c.sum())
        return self

    def query(self, values: np.ndarray) -> np.ndarray:
        idx = self._rows(np.asarray(values))
        est = self.table[0][idx[0]]
        for i in range(1, self.depth):
            est = np.minimum(est, self.table[i][idx[i]])
        return est

    def merge(self, other: "CountMin") -> "CountMin":
        if (other.width, other.depth) != (self.width, self.depth):
            raise ValueError("CMS shape mismatch")
        return CountMin(self.width, self.depth, self.table + other.table,
                        self.total + other.total)

    def to_bytes(self) -> bytes:
        return (self.MAGIC + struct.pack("<IIq", self.width, self.depth, self.total)
                + self.table.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "CountMin":
        assert buf[:4] == cls.MAGIC
        w, d, total = struct.unpack_from("<IIq", buf, 4)
        t = np.frombuffer(buf, dtype="<i8", count=w * d, offset=20) \
            .reshape(d, w).astype(np.int64)
        return cls(w, d, t, total)


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------

class Bloom:
    """Classic Bloom filter, k probes by double hashing h1 + i*h2."""

    MAGIC = b"BLM1"

    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.bits = (np.zeros((n_bits + 7) // 8, dtype=np.uint8)
                     if bits is None else bits)

    @classmethod
    def from_capacity(cls, n: int, fpp: float = 0.01) -> "Bloom":
        m = int(np.ceil(-n * np.log(fpp) / (np.log(2) ** 2)))
        k = max(1, int(round(m / n * np.log(2))))
        return cls(m, k)

    def _positions(self, values: np.ndarray) -> np.ndarray:
        h1 = _hash_values(values, seed=0)
        h2 = _hash_values(values, seed=1) | np.uint64(1)
        pos = np.empty((self.k, len(values)), dtype=np.int64)
        for i in range(self.k):
            pos[i] = ((h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)).astype(np.int64)
        return pos

    def update(self, values: np.ndarray) -> "Bloom":
        pos = self._positions(np.asarray(values)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3,
                         np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))
        return self

    def contains(self, values: np.ndarray) -> np.ndarray:
        pos = self._positions(np.asarray(values))
        out = np.ones(pos.shape[1], dtype=bool)
        for i in range(self.k):
            p = pos[i]
            out &= (self.bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1 == 1
        return out

    def merge(self, other: "Bloom") -> "Bloom":
        if (other.n_bits, other.k) != (self.n_bits, self.k):
            raise ValueError("Bloom shape mismatch")
        return Bloom(self.n_bits, self.k, self.bits | other.bits)

    def to_bytes(self) -> bytes:
        return self.MAGIC + struct.pack("<QI", self.n_bits, self.k) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Bloom":
        assert buf[:4] == cls.MAGIC
        n_bits, k = struct.unpack_from("<QI", buf, 4)
        bits = np.frombuffer(buf, dtype=np.uint8, offset=16,
                             count=(n_bits + 7) // 8).copy()
        return cls(n_bits, k, bits)


# ---------------------------------------------------------------------------
# KLL quantile sketch
# ---------------------------------------------------------------------------

class KLL:
    """KLL16 quantile sketch over float64 values.

    Levels of sorted buffers; level h holds items of weight 2^h.  When a
    level overflows its capacity k*(2/3)^(H-h), it is sorted and every
    other item is promoted (compaction).  The odd/even choice comes from
    a deterministic splitmix64 coin seeded per sketch — unbiased across
    compactions, reproducible across runs.
    """

    MAGIC = b"KLL1"
    C = 2.0 / 3.0

    def __init__(self, k: int = 200, levels: list[np.ndarray] | None = None,
                 n: int = 0, coin_state: int = 0xC0FFEE):
        self.k = k
        self.levels: list[np.ndarray] = levels if levels is not None else [
            np.empty(0, dtype=np.float64)]
        self.n = n
        self.coin_state = coin_state

    def _capacity(self, level: int) -> int:
        height = len(self.levels) - 1 - level
        return max(2, int(np.ceil(self.k * (self.C ** height))))

    def _coin(self) -> int:
        self.coin_state, v = K.splitmix64(self.coin_state)
        return v & 1

    def update(self, values: np.ndarray) -> "KLL":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return self
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += values.size
        self._compress()
        return self

    def _compress(self):
        lvl = 0
        while lvl < len(self.levels):
            if self.levels[lvl].size > self._capacity(lvl):
                buf = np.sort(self.levels[lvl])
                off = self._coin()
                # odd count: the last (unpaired) item stays at this level;
                # every other item of the even-sized rest promotes
                if buf.size & 1:
                    promoted = buf[:-1][off::2]
                    self.levels[lvl] = buf[-1:]
                else:
                    promoted = buf[off::2]
                    self.levels[lvl] = np.empty(0, dtype=np.float64)
                if lvl + 1 == len(self.levels):
                    self.levels.append(np.empty(0, dtype=np.float64))
                self.levels[lvl + 1] = np.concatenate(
                    [self.levels[lvl + 1], promoted])
            lvl += 1

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("KLL k mismatch")
        H = max(len(self.levels), len(other.levels))
        levels = []
        for h in range(H):
            a = self.levels[h] if h < len(self.levels) else np.empty(0)
            b = other.levels[h] if h < len(other.levels) else np.empty(0)
            levels.append(np.concatenate([a, b]).astype(np.float64))
        out = KLL(self.k, levels, self.n + other.n,
                  (self.coin_state ^ other.coin_state) or 0xC0FFEE)
        out._compress()
        return out

    def _weighted(self):
        vals, wts = [], []
        for h, buf in enumerate(self.levels):
            if buf.size:
                vals.append(buf)
                wts.append(np.full(buf.size, 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def quantile(self, q: float) -> float:
        v, w = self._weighted()
        if v.size == 0:
            return float("nan")
        cw = np.cumsum(w)
        target = q * cw[-1]
        i = int(np.searchsorted(cw, target, side="left"))
        return float(v[min(i, v.size - 1)])

    def rank(self, x: float) -> float:
        """Estimated fraction of items <= x."""
        v, w = self._weighted()
        if v.size == 0:
            return float("nan")
        i = int(np.searchsorted(v, x, side="right"))
        return float(np.sum(w[:i]) / np.sum(w))

    def to_bytes(self) -> bytes:
        head = self.MAGIC + struct.pack("<IqQI", self.k, self.n,
                                        self.coin_state, len(self.levels))
        parts = [head]
        for buf in self.levels:
            parts.append(struct.pack("<I", buf.size))
            parts.append(np.sort(buf).astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLL":
        assert buf[:4] == cls.MAGIC
        k, n, coin, nlev = struct.unpack_from("<IqQI", buf, 4)
        off = 4 + 24
        levels = []
        for _ in range(nlev):
            sz = struct.unpack_from("<I", buf, off)[0]
            off += 4
            levels.append(np.frombuffer(buf, dtype="<f8", count=sz,
                                        offset=off).astype(np.float64))
            off += 8 * sz
        return cls(k, levels, n, coin)


# ---------------------------------------------------------------------------
# t-digest
# ---------------------------------------------------------------------------

class TDigest:
    """Merging t-digest with the k1 (arcsine) scale function."""

    MAGIC = b"TDG1"

    def __init__(self, delta: float = 100.0,
                 means: np.ndarray | None = None,
                 weights: np.ndarray | None = None,
                 mn: float = np.inf, mx: float = -np.inf):
        self.delta = delta
        self.means = means if means is not None else np.empty(0, dtype=np.float64)
        self.weights = weights if weights is not None else np.empty(0, dtype=np.float64)
        self.min = mn
        self.max = mx

    @property
    def n(self) -> float:
        return float(self.weights.sum())

    def _k(self, q: np.ndarray) -> np.ndarray:
        return self.delta / (2 * np.pi) * np.arcsin(2 * np.clip(q, 0, 1) - 1)

    def _merge_points(self, means: np.ndarray, weights: np.ndarray) -> None:
        if means.size == 0:
            return
        m = np.concatenate([self.means, means])
        w = np.concatenate([self.weights, weights])
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
        total = w.sum()
        # single left-to-right merge pass constrained by the scale function
        out_m, out_w = [], []
        cur_m, cur_w = m[0], w[0]
        q0 = 0.0
        k0 = float(self._k(np.array([0.0]))[0])
        limit_k = k0 + 1.0
        for i in range(1, m.size):
            q = q0 + (cur_w + w[i]) / total
            if float(self._k(np.array([q]))[0]) <= limit_k:
                cur_m += (m[i] - cur_m) * (w[i] / (cur_w + w[i]))
                cur_w += w[i]
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                q0 += cur_w / total
                limit_k = float(self._k(np.array([q0]))[0]) + 1.0
                cur_m, cur_w = m[i], w[i]
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.array(out_m)
        self.weights = np.array(out_w)
        self.min = min(self.min, float(m[0]))
        self.max = max(self.max, float(m[-1]))

    def update(self, values: np.ndarray) -> "TDigest":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return self
        # pre-cluster the batch: sort and chunk to <=8*delta points to bound
        # the python merge loop regardless of batch size
        values = np.sort(values)
        cap = int(8 * self.delta)
        if values.size > cap:
            splits = np.array_split(values, cap)
            means = np.array([c.mean() for c in splits])
            weights = np.array([float(c.size) for c in splits])
            self.min = min(self.min, float(values[0]))
            self.max = max(self.max, float(values[-1]))
        else:
            means = values
            weights = np.ones(values.size)
        self._merge_points(means, weights)
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        if other.delta != self.delta:
            raise ValueError("t-digest delta mismatch")
        out = TDigest(self.delta, self.means.copy(), self.weights.copy(),
                      self.min, self.max)
        out._merge_points(other.means, other.weights)
        out.min = min(self.min, other.min)
        out.max = max(self.max, other.max)
        return out

    def quantile(self, q: float) -> float:
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        total = self.weights.sum()
        target = q * total
        cum = np.cumsum(self.weights) - self.weights / 2
        if target <= cum[0]:
            return float(self.min + (target / cum[0]) * (self.means[0] - self.min)
                         if cum[0] > 0 else self.means[0])
        if target >= cum[-1]:
            rem = total - cum[-1]
            return float(self.means[-1] + ((target - cum[-1]) / rem)
                         * (self.max - self.means[-1]) if rem > 0 else self.means[-1])
        i = int(np.searchsorted(cum, target) )
        lo, hi = cum[i - 1], cum[i]
        frac = (target - lo) / (hi - lo)
        return float(self.means[i - 1] + frac * (self.means[i] - self.means[i - 1]))

    def to_bytes(self) -> bytes:
        return (self.MAGIC
                + struct.pack("<dIdd", self.delta, self.means.size,
                              self.min, self.max)
                + self.means.astype("<f8").tobytes()
                + self.weights.astype("<f8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "TDigest":
        assert buf[:4] == cls.MAGIC
        delta, nc, mn, mx = struct.unpack_from("<dIdd", buf, 4)
        off = 4 + 28
        means = np.frombuffer(buf, dtype="<f8", count=nc, offset=off).astype(np.float64)
        weights = np.frombuffer(buf, dtype="<f8", count=nc,
                                offset=off + 8 * nc).astype(np.float64)
        return cls(delta, means, weights, mn, mx)


class ThetaKMV:
    """Theta sketch, k-minimum-values flavor (Beyer et al. 2007; the
    Apache DataSketches theta family): keep the k smallest distinct
    64-bit hashes; theta = the k-th smallest / 2^64 once full.

    What it adds over HLL: SET OPERATIONS.  Distinct-count estimate
    (k-1)/theta like HLL, but the retained sample also supports
    intersection/difference estimates across sketches — "how many urls
    overlap between two crawls" — which HLL cannot answer.  Union-merge
    is associative/commutative (concat distinct, trim to k), relative
    error ~1/sqrt(k-2) on the union and |A∩B|-scaled on intersections.
    """

    MAGIC = b"TKV1"

    def __init__(self, k: int = 4096, values: np.ndarray | None = None):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.values = (np.empty(0, dtype=np.uint64)
                       if values is None else values)  # sorted, distinct

    @property
    def theta(self) -> float:
        """Sampling threshold in (0, 1]; hashes < theta*2^64 are kept."""
        if self.values.size < self.k:
            return 1.0
        return float(self.values[self.k - 1]) / 2.0 ** 64

    def update(self, values: np.ndarray) -> "ThetaKMV":
        h = _hash_values(values)
        self.values = np.unique(np.concatenate([self.values, h]))[:self.k]
        return self

    def merge(self, other: "ThetaKMV") -> "ThetaKMV":
        if other.k != self.k:
            raise ValueError("ThetaKMV k mismatch")
        vals = np.unique(np.concatenate([self.values, other.values]))[:self.k]
        return ThetaKMV(self.k, vals)

    def estimate(self) -> float:
        if self.values.size < self.k:
            return float(self.values.size)
        return (self.k - 1) / self.theta

    def intersect_estimate(self, other: "ThetaKMV") -> float:
        """|A ∩ B| estimate: common retained hashes below the SMALLER
        theta, scaled by it (the standard theta-intersection rule).
        The cut is the k-th hash VALUE (exact uint64), not a float
        reconstruction — float64 cannot even represent 2^64-1."""
        if other.k != self.k:
            raise ValueError("ThetaKMV k mismatch")
        full = np.uint64(0xFFFFFFFFFFFFFFFF)

        def cutval(s: "ThetaKMV") -> np.uint64:
            return s.values[s.k - 1] if s.values.size >= s.k else full

        cut = min(cutval(self), cutval(other))
        if cut == full:  # neither side sampled: counts are exact
            return float(np.intersect1d(self.values, other.values,
                                        assume_unique=True).size)
        a = self.values[self.values < cut]
        b = other.values[other.values < cut]
        common = np.intersect1d(a, b, assume_unique=True).size
        return common / (float(cut) / 2.0 ** 64)

    def to_bytes(self) -> bytes:
        return (self.MAGIC + struct.pack("<IQ", self.k, self.values.size)
                + self.values.astype("<u8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "ThetaKMV":
        assert buf[:4] == cls.MAGIC
        k, n = struct.unpack_from("<IQ", buf, 4)
        vals = np.frombuffer(buf, dtype="<u8", count=n, offset=16) \
            .astype(np.uint64)
        return cls(k, vals)


class MisraGries:
    """Misra-Gries frequent-items summary (Misra & Gries 1982), with
    the mergeable-summaries combine rule of Agarwal et al. 2013: keep
    at most ``k`` counters; when they would overflow, subtract the
    (k+1)-th largest count from ALL counters and drop the non-positive
    ones, accumulating that subtraction into ``error``.

    Guarantees (stream AND arbitrary merge trees — this is what makes
    it a UDAF): for every item, estimate <= true <= estimate + error;
    error <= n/(k+1); hence every item with true count > n/(k+1) is
    guaranteed RETAINED.  That containment is the useful half: join the
    <= k retained candidates back to exact counts and you have the
    exact heavy-hitter set from one streaming pass over 10^12 rows plus
    one candidate-restricted count — no full groupBy-orderBy of the
    corpus.  What CMS cannot do: CMS answers point queries but cannot
    ENUMERATE the heavy items without a second structure; MG is that
    structure.
    """

    MAGIC = b"MGS1"

    def __init__(self, k: int = 64, counters: dict | None = None,
                 error: int = 0, n: int = 0):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = k
        self.counters: dict[int, int] = counters or {}
        self.error = int(error)
        self.n = int(n)

    def _compress(self) -> None:
        if len(self.counters) <= self.k:
            return
        cuts = sorted(self.counters.values(), reverse=True)
        sub = cuts[self.k]          # (k+1)-th largest
        self.counters = {v: c - sub for v, c in self.counters.items()
                         if c > sub}
        self.error += sub

    def update(self, values: np.ndarray) -> "MisraGries":
        vals, cnts = np.unique(np.asarray(values, dtype=np.int64),
                               return_counts=True)
        get = self.counters.get
        for v, c in zip(vals.tolist(), cnts.tolist()):
            self.counters[v] = get(v, 0) + c
        self.n += int(values.size)
        self._compress()
        return self

    def merge(self, other: "MisraGries") -> "MisraGries":
        if other.k != self.k:
            raise ValueError("MisraGries k mismatch")
        merged = dict(self.counters)
        get = merged.get
        for v, c in other.counters.items():
            merged[v] = get(v, 0) + c
        out = MisraGries(self.k, merged, self.error + other.error,
                         self.n + other.n)
        out._compress()
        return out

    def estimate(self, item: int) -> int:
        """Lower-bound count estimate (0 for untracked items); the true
        count is within [estimate, estimate + error]."""
        return self.counters.get(int(item), 0)

    def candidates(self) -> dict[int, int]:
        """item -> lower-bound count, every true-heavy item included."""
        return dict(self.counters)

    def to_bytes(self) -> bytes:
        items = np.fromiter(self.counters.keys(), dtype=np.int64,
                            count=len(self.counters))
        cnts = np.fromiter(self.counters.values(), dtype=np.int64,
                           count=len(self.counters))
        return (self.MAGIC
                + struct.pack("<IQQQ", self.k, self.error, self.n,
                              len(self.counters))
                + items.astype("<i8").tobytes()
                + cnts.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "MisraGries":
        assert buf[:4] == cls.MAGIC
        k, error, n, m = struct.unpack_from("<IQQQ", buf, 4)
        items = np.frombuffer(buf, dtype="<i8", count=m, offset=32)
        cnts = np.frombuffer(buf, dtype="<i8", count=m, offset=32 + 8 * m)
        return cls(k, dict(zip(items.tolist(), cnts.tolist())), error, n)


class AMS:
    """AMS second-frequency-moment (F2 / self-join-size) sketch in its
    count-sketch form (Alon-Matias-Szegedy 1996; Charikar-Chen-
    Farach-Colton 2002; Thorup-Zhang 2004 analysis): ``depth``
    independent rows of ``width`` signed counters; each key adds
    ``sign_i(key)`` to ``table[i][bucket_i(key)]``; each row's
    sum-of-squares is an unbiased F2 estimate with relative stderr
    ``sqrt(2/width)``; the estimate is the row median.

    What F2 answers that no other sketch here does: the SELF-JOIN SIZE
    of a column — sum over keys of count² — which prices a groupBy /
    join on that key (skew in one number: F2/n is the expected rows per
    matched key) without ever materializing per-key counts.  Merge is
    counter-wise addition, so it is associative/commutative in any
    partition order, and the estimate is exact integer arithmetic given
    the hashes (row sums of squares in Python ints — no overflow, no
    float drift).
    """

    MAGIC = b"AMS1"
    _SEED = 0x243F6A8885A308D3  # pi hex, decorrelates from CMS's phi seeds

    def __init__(self, width: int = 256, depth: int = 5,
                 table: np.ndarray | None = None, total: int = 0):
        if width < 2 or depth < 1:
            raise ValueError("need width >= 2, depth >= 1")
        self.width = width
        self.depth = depth
        self.table = (np.zeros((depth, width), dtype=np.int64)
                      if table is None else table)
        self.total = int(total)

    def _bucket_sign(self, values: np.ndarray):
        """(depth, n) bucket indices and ±1 signs; row i uses seed i."""
        idx = np.empty((self.depth, len(values)), dtype=np.int64)
        sgn = np.empty((self.depth, len(values)), dtype=np.int64)
        for i in range(self.depth):
            h = _hash_values(values, seed=self._SEED + i)
            idx[i] = K.reduce32((h & U64(0xFFFFFFFF)),
                                self.width).astype(np.int64)
            # top bit decides the sign — independent of the bucket bits
            sgn[i] = 1 - 2 * (h >> U64(63)).astype(np.int64)
        return idx, sgn

    def update(self, values: np.ndarray,
               counts: np.ndarray | None = None) -> "AMS":
        values = np.asarray(values)
        c = (np.ones(len(values), dtype=np.int64)
             if counts is None else np.asarray(counts, dtype=np.int64))
        idx, sgn = self._bucket_sign(values)
        for i in range(self.depth):
            np.add.at(self.table[i], idx[i], sgn[i] * c)
        self.total += int(c.sum())
        return self

    def merge(self, other: "AMS") -> "AMS":
        if (other.width, other.depth) != (self.width, self.depth):
            raise ValueError("AMS shape mismatch")
        return AMS(self.width, self.depth, self.table + other.table,
                   self.total + other.total)

    def estimate(self) -> int:
        """Median over rows of the row's sum of squared counters.

        Exact-integer: squares accumulate in Python ints, and an even
        ``depth`` takes the LOWER middle row (no float averaging), so
        the same counters give the same estimate on any platform.
        """
        ests = sorted(sum(int(x) * int(x) for x in row)
                      for row in self.table)
        return ests[(self.depth - 1) // 2]

    def to_bytes(self) -> bytes:
        return (self.MAGIC
                + struct.pack("<IIq", self.width, self.depth, self.total)
                + self.table.astype("<i8").tobytes())

    @classmethod
    def from_bytes(cls, buf: bytes) -> "AMS":
        assert buf[:4] == cls.MAGIC
        width, depth, total = struct.unpack_from("<IIq", buf, 4)
        table = np.frombuffer(buf, dtype="<i8", offset=20,
                              count=width * depth) \
            .reshape(depth, width).copy()
        return cls(width, depth, table, total)


SKETCH_TYPES = {
    b"HLL1": HyperLogLog, b"CMS1": CountMin, b"BLM1": Bloom,
    b"KLL1": KLL, b"TDG1": TDigest, b"TKV1": ThetaKMV,
    b"MGS1": MisraGries, b"AMS1": AMS,
    b"HLS1": HyperLogLog,  # sparse wire form; same in-memory class
}


def sketch_from_bytes(buf: bytes):
    return SKETCH_TYPES[bytes(buf[:4])].from_bytes(buf)
