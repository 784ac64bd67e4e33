/* fastfilter_spark native kernel: hot loops for filter construction
 * (only: the probes are FilterProbe.java and numpy's contain).
 *
 * From-scratch implementation of the standard xor/binary-fuse building
 * blocks (murmur3 finalizer mixing, Lemire range reduction, 3-regular
 * hypergraph peeling); the algorithmic contract matches the reference
 * library (FastFilter/xor_singleheader — see SURVEY.md §2 for the
 * file:line inventory) but the code is written independently for the
 * ctypes boundary: Python owns allocation, seeding and the retry chain
 * (a duplicate retry re-runs prepare), C owns the per-attempt loops.
 *
 * Compiled on demand by fastfilter_spark/functions/native.py with
 * `cc -O3 -march=native -shared -fPIC`; it is optional — the numpy
 * build in operators/local.py is the portable fallback, differential-
 * tested against it (tests/test_native.py).
 */

#include <stdint.h>
#include <string.h>

static inline uint64_t mm64(uint64_t v) {
    v ^= v >> 33;
    v *= 0xFF51AFD7ED558CCDULL;
    v ^= v >> 33;
    v *= 0xC4CEB9FE1A85EC53ULL;
    v ^= v >> 33;
    return v;
}

static inline uint64_t rot64(uint64_t v, int s) {
    return (v << s) | (v >> (64 - s));
}

static inline uint32_t lemire_reduce(uint32_t v, uint32_t range) {
    return (uint32_t)(((uint64_t)v * (uint64_t)range) >> 32);
}

/* ---- per-attempt hash, cell indices and cell state -------------------- */

/* A build attempt is prepare -> ff_peel_pre -> assign.  Prepare
 * counting-sorts the mixed hashes by h0 segment (h0 = mulhi(h, scl) is
 * monotone in h), so later loops touch cells in a sliding ~3-segment
 * window (the binary-fuse locality technique, SURVEY.md §4.1), then
 * writes the cell indices and accumulates state[c] = count<<32 | xor of
 * row ids.  tmp: n u64; bucket_pos: segment_count+2; state: m. */
void ff_fuse_prepare(const uint64_t *keys, int64_t n, uint64_t seed,
                     uint32_t segment_length, uint32_t seg_count_length,
                     uint32_t segment_count, int64_t m,
                     uint64_t *tmp, int64_t *bucket_pos,
                     uint64_t *mixed, int32_t *g0, int32_t *g1, int32_t *g2,
                     int64_t *state) {
    uint32_t mask = segment_length - 1;
    int log2sl = 0;
    while ((1u << log2sl) < segment_length) log2sl++;
    int64_t nbuckets = segment_count;
    for (int64_t b = 0; b <= nbuckets; b++) bucket_pos[b] = 0;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = mm64(keys[i] + seed);
        tmp[i] = h;
        uint32_t a = (uint32_t)(((unsigned __int128)h * seg_count_length) >> 64);
        bucket_pos[(a >> log2sl) + 1]++;
    }
    for (int64_t b = 1; b <= nbuckets; b++) bucket_pos[b] += bucket_pos[b - 1];
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = tmp[i];
        uint32_t a = (uint32_t)(((unsigned __int128)h * seg_count_length) >> 64);
        mixed[bucket_pos[a >> log2sl]++] = h;
    }
    memset(state, 0, (size_t)m * sizeof(int64_t));
    const int64_t ONE = (int64_t)1 << 32;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = mixed[i];
        uint32_t a = (uint32_t)(((unsigned __int128)h * seg_count_length) >> 64);
        uint32_t b2 = (a + segment_length) ^ ((uint32_t)(h >> 18) & mask);
        uint32_t c2 = (a + 2 * segment_length) ^ ((uint32_t)h & mask);
        g0[i] = (int32_t)a;
        g1[i] = (int32_t)b2;
        g2[i] = (int32_t)c2;
        state[a] += ONE; state[a] ^= (uint32_t)i;
        state[b2] += ONE; state[b2] ^= (uint32_t)i;
        state[c2] += ONE; state[c2] ^= (uint32_t)i;
    }
}

/* xor-filter twin of ff_fuse_prepare: bucket the mixed hashes by their
 * h0 cell (h0 = lemire_reduce(low32(h), bl) is monotone in low32(h), so
 * bucketing by low32 >> s yields ascending h0 — sequential access for
 * 1/3 of the accumulate/peel updates; h1/h2 stay random within their
 * blocks, which is also true of the reference's unbuffered populate).
 * nbuckets must be a power of two; bucket_pos holds nbuckets+2. */
void ff_xor_prepare(const uint64_t *keys, int64_t n, uint64_t seed,
                    uint32_t block_length, uint32_t nbuckets, int64_t m,
                    uint64_t *tmp, int64_t *bucket_pos,
                    uint64_t *mixed, int32_t *g0, int32_t *g1, int32_t *g2,
                    int64_t *state) {
    /* start at 31, not 32: a 32-bit shift by 32 is UB, reachable when
     * nbuckets <= 2.  With nbuckets == 1 this degrades to a 2-bucket
     * ordering (indices 0/1; bucket_pos has nbuckets+2 slots, and
     * placement only reads start offsets 0..1), which is just as valid a
     * locality ordering. */
    int shift = 31;
    while (shift > 0 && (1u << (32 - shift)) < nbuckets) shift--;
    for (int64_t b = 0; b <= (int64_t)nbuckets; b++) bucket_pos[b] = 0;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = mm64(keys[i] + seed);
        tmp[i] = h;
        bucket_pos[((uint32_t)h >> shift) + 1]++;
    }
    for (int64_t b = 1; b <= (int64_t)nbuckets; b++)
        bucket_pos[b] += bucket_pos[b - 1];
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = tmp[i];
        mixed[bucket_pos[(uint32_t)h >> shift]++] = h;
    }
    memset(state, 0, (size_t)m * sizeof(int64_t));
    const int64_t ONE = (int64_t)1 << 32;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = mixed[i];
        int32_t a = (int32_t)lemire_reduce((uint32_t)h, block_length);
        int32_t b2 = (int32_t)(lemire_reduce((uint32_t)rot64(h, 21),
                                             block_length) + block_length);
        int32_t c2 = (int32_t)(lemire_reduce((uint32_t)rot64(h, 42),
                                             block_length) + 2 * block_length);
        g0[i] = a; g1[i] = b2; g2[i] = c2;
        state[a] += ONE; state[a] ^= (uint32_t)i;
        state[b2] += ONE; state[b2] ^= (uint32_t)i;
        state[c2] += ONE; state[c2] ^= (uint32_t)i;
    }
}

/* Queue peel over the state a prepare call accumulated (a count-1
 * cell's row-id xor IS its remaining row); returns the number peeled.
 *
 * With emit != 0, besides the peel order (order/ocell) it emits per
 * peeled row its THREE cell indices (oc0/oc1/oc2 — already in registers
 * here) and its mixed hash (ohash).  That makes the reverse-order
 * assignment pass fully sequential except for the fingerprint array
 * itself (8-32x smaller than the g/mixed arrays): the random
 * g0/g1/g2[row] + mixed[row] gathers move from assign — where they
 * were pure extra traffic — into the peel loop that already loads
 * those lines.  This wins for LARGE single builds (arrays far beyond
 * cache: +8% single-core at 5M keys) but the extra ~20 B/row of
 * stores is pure added DRAM traffic for the small per-shard builds of
 * the distributed path, where 32 concurrent kernels are bandwidth-
 * bound and all arrays are cache-resident anyway — so emit is chosen
 * per build size (functions/native.py), and emit == 0 keeps the lean
 * path with the g-array-walking assignment (ff_assign*_g). */
#define PEEL_LOOP(EMIT)                                                  \
    while (qhead < qtail) {                                              \
        int32_t cell = queue[qhead++];                                   \
        int64_t st = state[cell];                                        \
        if ((st >> 32) != 1) continue;                                   \
        int32_t row = (int32_t)(uint32_t)st;                             \
        int32_t cs[3] = { g0[row], g1[row], g2[row] };                   \
        ocell[np] = cell;                                                \
        if (EMIT) {                                                      \
            /* the cells-variant assign never reads `order` — skip the  \
             * dead 4 B/row store on the traffic-tuned path */          \
            oc0[np] = cs[0];                                             \
            oc1[np] = cs[1];                                             \
            oc2[np] = cs[2];                                             \
            ohash[np] = mixed[row];                                      \
        } else {                                                         \
            order[np] = row;                                             \
        }                                                                \
        np++;                                                            \
        for (int k = 0; k < 3; k++) {                                    \
            int32_t c2 = cs[k];                                          \
            int64_t s2 = (state[c2] - ONE) ^ (uint32_t)row;              \
            state[c2] = s2;                                              \
            if ((s2 >> 32) == 1) queue[qtail++] = c2;                    \
        }                                                                \
    }

int64_t ff_peel_pre(int64_t m, const uint64_t *mixed,
                    const int32_t *g0, const int32_t *g1, const int32_t *g2,
                    int64_t *state, int32_t emit,
                    int32_t *order, int32_t *ocell,
                    int32_t *oc0, int32_t *oc1, int32_t *oc2,
                    uint64_t *ohash, int32_t *queue) {
    const int64_t ONE = (int64_t)1 << 32;
    int64_t qhead = 0, qtail = 0;
    for (int64_t c = 0; c < m; c++)
        if ((state[c] >> 32) == 1) queue[qtail++] = (int32_t)c;
    int64_t np = 0;
    if (emit) { PEEL_LOOP(1) } else { PEEL_LOOP(0) }
    return np;
}

/* ---- fingerprint assignment (reverse peel order) ---------------------- */

/* Lean variant for cache-resident builds (emit == 0 path): walks the
 * g arrays / mixed directly, as the peel loop did. */
#define ASSIGN_G_IMPL(NAME, T)                                           \
void NAME(int64_t np, const int32_t *order, const int32_t *ocell,        \
          const uint64_t *mixed,                                         \
          const int32_t *g0, const int32_t *g1, const int32_t *g2,       \
          T *fp) {                                                       \
    for (int64_t i = np - 1; i >= 0; i--) {                              \
        int32_t row = order[i];                                          \
        uint64_t h = mixed[row];                                         \
        T v = (T)(h ^ (h >> 32));                                        \
        v ^= fp[g0[row]] ^ fp[g1[row]] ^ fp[g2[row]];                    \
        fp[ocell[i]] = v;                                                \
    }                                                                    \
}

ASSIGN_G_IMPL(ff_assign8_g, uint8_t)
ASSIGN_G_IMPL(ff_assign16_g, uint16_t)
ASSIGN_G_IMPL(ff_assign32_g, uint32_t)

/* Sequential reverse pass over the peel-order arrays: every input
 * stream (ocell/oc0/oc1/oc2/ohash) is read in order; the only random
 * access is into fp itself, which is the smallest array in the build.
 * (fp[oc*] includes fp[ocell[i]], still 0 when read — harmless.) */
#define ASSIGN_IMPL(NAME, T)                                             \
void NAME(int64_t np, const int32_t *ocell,                              \
          const int32_t *oc0, const int32_t *oc1, const int32_t *oc2,    \
          const uint64_t *ohash, T *fp) {                                \
    for (int64_t i = np - 1; i >= 0; i--) {                              \
        uint64_t h = ohash[i];                                           \
        T v = (T)(h ^ (h >> 32));                                        \
        v ^= fp[oc0[i]] ^ fp[oc1[i]] ^ fp[oc2[i]];                       \
        fp[ocell[i]] = v;                                                \
    }                                                                    \
}

ASSIGN_IMPL(ff_assign8, uint8_t)
ASSIGN_IMPL(ff_assign16, uint16_t)
ASSIGN_IMPL(ff_assign32, uint32_t)

/* ---- 4-wise binary fuse (arity 4) -------------------------------------
 *
 * The reference ships arity-4 sizing constants but only the 3-wise hash
 * (see functions/kernels.py:fuse_index_quad); the 4-wise cell map here
 * is the same general-arity extension used by the numpy tier — h0 from
 * the mulhi segment map, h1..h3 in the next three segments with
 * windowed XOR offsets from a SECOND murmur mix (bits [36:54) [18:36)
 * [0:18)): three disjoint 18-bit windows consume 54 bits, so any
 * placement inside h itself overlaps the high bits that drive mulhi,
 * and offsets correlated with the segment choice break peelability
 * (fuse_index_quad docstring has the measurement).  Both tiers share
 * the seed chain and are differential-tested (tests/test_native.py),
 * same contract as the 3-wise pair. */

static inline uint32_t fuse4_h0(uint64_t h, uint32_t seg_count_length) {
    return (uint32_t)(((unsigned __int128)h * seg_count_length) >> 64);
}

#define FUSE4_CELLS(h, a, b, c, d)                                       \
    do {                                                                 \
        uint64_t oh_ = mm64(h);                                          \
        (a) = fuse4_h0((h), seg_count_length);                           \
        (b) = ((a) + segment_length) ^ ((uint32_t)(oh_ >> 36) & mask);   \
        (c) = ((a) + 2 * segment_length) ^ ((uint32_t)(oh_ >> 18) & mask);\
        (d) = ((a) + 3 * segment_length) ^ ((uint32_t)oh_ & mask);       \
    } while (0)

/* Fused segment-sorted index + 4-cell state accumulation (the arity-4
 * twin of ff_fuse_prepare). */
void ff_fuse_prepare4(const uint64_t *keys, int64_t n, uint64_t seed,
                      uint32_t segment_length, uint32_t seg_count_length,
                      uint32_t segment_count, int64_t m,
                      uint64_t *tmp, int64_t *bucket_pos,
                      uint64_t *mixed, int32_t *g0, int32_t *g1,
                      int32_t *g2, int32_t *g3, int64_t *state) {
    uint32_t mask = segment_length - 1;
    int log2sl = 0;
    while ((1u << log2sl) < segment_length) log2sl++;
    int64_t nbuckets = segment_count;
    for (int64_t b = 0; b <= nbuckets; b++) bucket_pos[b] = 0;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = mm64(keys[i] + seed);
        tmp[i] = h;
        bucket_pos[(fuse4_h0(h, seg_count_length) >> log2sl) + 1]++;
    }
    for (int64_t b = 1; b <= nbuckets; b++) bucket_pos[b] += bucket_pos[b - 1];
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = tmp[i];
        mixed[bucket_pos[fuse4_h0(h, seg_count_length) >> log2sl]++] = h;
    }
    memset(state, 0, (size_t)m * sizeof(int64_t));
    const int64_t ONE = (int64_t)1 << 32;
    for (int64_t i = 0; i < n; i++) {
        uint64_t h = mixed[i];
        uint32_t a, b2, c2, d2;
        FUSE4_CELLS(h, a, b2, c2, d2);
        g0[i] = (int32_t)a;
        g1[i] = (int32_t)b2;
        g2[i] = (int32_t)c2;
        g3[i] = (int32_t)d2;
        state[a] += ONE; state[a] ^= (uint32_t)i;
        state[b2] += ONE; state[b2] ^= (uint32_t)i;
        state[c2] += ONE; state[c2] ^= (uint32_t)i;
        state[d2] += ONE; state[d2] ^= (uint32_t)i;
    }
}

/* 4-ary peel loop — identical bookkeeping to PEEL_LOOP with one more
 * incident cell per row (and an oc3 emit stream). */
#define PEEL_LOOP_4(EMIT)                                                \
    while (qhead < qtail) {                                              \
        int32_t cell = queue[qhead++];                                   \
        int64_t st = state[cell];                                        \
        if ((st >> 32) != 1) continue;                                   \
        int32_t row = (int32_t)(uint32_t)st;                             \
        int32_t cs[4] = { g0[row], g1[row], g2[row], g3[row] };          \
        ocell[np] = cell;                                                \
        if (EMIT) {                                                      \
            oc0[np] = cs[0];                                             \
            oc1[np] = cs[1];                                             \
            oc2[np] = cs[2];                                             \
            oc3[np] = cs[3];                                             \
            ohash[np] = mixed[row];                                      \
        } else {                                                         \
            order[np] = row;                                             \
        }                                                                \
        np++;                                                            \
        for (int k = 0; k < 4; k++) {                                    \
            int32_t c2 = cs[k];                                          \
            int64_t s2 = (state[c2] - ONE) ^ (uint32_t)row;              \
            state[c2] = s2;                                              \
            if ((s2 >> 32) == 1) queue[qtail++] = c2;                    \
        }                                                                \
    }

int64_t ff_peel_pre4(int64_t m, const uint64_t *mixed,
                     const int32_t *g0, const int32_t *g1,
                     const int32_t *g2, const int32_t *g3,
                     int64_t *state, int32_t emit,
                     int32_t *order, int32_t *ocell,
                     int32_t *oc0, int32_t *oc1, int32_t *oc2, int32_t *oc3,
                     uint64_t *ohash, int32_t *queue) {
    const int64_t ONE = (int64_t)1 << 32;
    int64_t qhead = 0, qtail = 0;
    for (int64_t c = 0; c < m; c++)
        if ((state[c] >> 32) == 1) queue[qtail++] = (int32_t)c;
    int64_t np = 0;
    if (emit) { PEEL_LOOP_4(1) } else { PEEL_LOOP_4(0) }
    return np;
}

#define ASSIGN_G4_IMPL(NAME, T)                                          \
void NAME(int64_t np, const int32_t *order, const int32_t *ocell,        \
          const uint64_t *mixed,                                         \
          const int32_t *g0, const int32_t *g1, const int32_t *g2,       \
          const int32_t *g3, T *fp) {                                    \
    for (int64_t i = np - 1; i >= 0; i--) {                              \
        int32_t row = order[i];                                          \
        uint64_t h = mixed[row];                                         \
        T v = (T)(h ^ (h >> 32));                                        \
        v ^= fp[g0[row]] ^ fp[g1[row]] ^ fp[g2[row]] ^ fp[g3[row]];      \
        fp[ocell[i]] = v;                                                \
    }                                                                    \
}

ASSIGN_G4_IMPL(ff_assign8_g4, uint8_t)
ASSIGN_G4_IMPL(ff_assign16_g4, uint16_t)
ASSIGN_G4_IMPL(ff_assign32_g4, uint32_t)

#define ASSIGN4_IMPL(NAME, T)                                            \
void NAME(int64_t np, const int32_t *ocell,                              \
          const int32_t *oc0, const int32_t *oc1, const int32_t *oc2,    \
          const int32_t *oc3, const uint64_t *ohash, T *fp) {            \
    for (int64_t i = np - 1; i >= 0; i--) {                              \
        uint64_t h = ohash[i];                                           \
        T v = (T)(h ^ (h >> 32));                                        \
        v ^= fp[oc0[i]] ^ fp[oc1[i]] ^ fp[oc2[i]] ^ fp[oc3[i]];          \
        fp[ocell[i]] = v;                                                \
    }                                                                    \
}

ASSIGN4_IMPL(ff_assign8_4, uint8_t)
ASSIGN4_IMPL(ff_assign16_4, uint16_t)
ASSIGN4_IMPL(ff_assign32_4, uint32_t)
