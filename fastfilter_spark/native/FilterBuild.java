/* fastfilter_spark JVM build: one shard's keys -> one filter-table row,
 * evaluated inside Spark's JVM so the keys never cross into a Python
 * worker.
 *
 * populate() is ffkernel.c's build route written again in Java, byte
 * for byte: the splitmix64 seed chain, the bucket-ordered prepare
 * (segment-sorted for binary fuse, h0-bucketed for xor) fused with the
 * cell-state accumulation, the fuse 64-key state-overflow abort, the
 * queue peel, the reverse-order assignment and to_bytes().  It covers
 * xor8/xor16, fuse8/16/32 and the 4-wise fuse cell map, with the same
 * duplicate handling as operators/local.py build_filter: xor dedups at
 * attempt 10, a failed fuse attempt retries its seed over the unique
 * keys.  The shard row sorts its keys as unsigned and dedups them first,
 * as np.unique does, so the bytes do not depend on arrival order.
 *
 * Compiled with FilterProbe.java and SketchFold.java (which reuses its
 * radix unique and splitmix64) into one jar by
 * fastfilter_spark/functions/native.py (Spark's bundled Janino) and
 * wired by operators/dist.py build_filter_rows as a typed aggregate:
 * groupBy(shard).agg(this Aggregator over the key column).  Its buffer
 * is a growable primitive long[] (Keys, a bean for the map-side
 * partial's encoder); finish() builds the shard and returns the
 * FILTER_TABLE_SCHEMA row without its shard column.  Janino ignores
 * type arguments and emits no bridge methods, hence the Object
 * signatures.
 */
package fastfilter_spark;

import java.io.Serializable;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;
import java.util.Arrays;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.expressions.Aggregator;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.StructType;

public final class FilterBuild extends Aggregator<Object, Object, Object> {
    private static final long serialVersionUID = 1L;

    /* kernels.py: splitmix64 and the seed-chain start counters */
    static final long GAMMA = 0x9E3779B97F4A7C15L;
    private static final long XOR_RNG_START = 1L;
    private static final long FUSE_RNG_START = 0x726B2B9D438B9D4DL;
    private static final int XOR_SORT_ITERATIONS = 10;
    private static final int MAX_ITERATIONS = 100;
    private static final long ONE = 1L << 32;
    private static final long MASK32 = 0xFFFFFFFFL;

    private final String kind;
    private final int numShards;
    private final int arity;
    private final String rowJson;

    /** The driver-side factory: py4j instantiates it by reflection
     *  through the session's jar class loader, then calls {@link #udaf}. */
    public FilterBuild() {
        this(null, 0, 3, null);
    }

    private FilterBuild(String kind, int numShards, int arity,
                        String rowJson) {
        this.kind = kind;
        this.numShards = numShards;
        this.arity = arity;
        this.rowJson = rowJson;
    }

    /** A {@code bigint -> struct} aggregate whose struct is
     *  {@code rowJson} (dist.FILTER_TABLE_SCHEMA without shard). */
    public UserDefinedFunction udaf(String kind, int numShards, int arity,
                                   String rowJson) {
        return functions.udaf(new FilterBuild(kind, numShards, arity, rowJson),
                              erase(Encoders.LONG())).asNonNullable();
    }

    /** build_filter(keys, kind, arity).to_bytes() over little-endian
     *  int64 keys, in the given order and with their duplicates: the
     *  parity entry point the wire-digest tests call over py4j. */
    public static byte[] toBytes(byte[] keysLE, String kind, int arity) {
        long[] keys = new long[keysLE.length / 8];
        ByteBuffer.wrap(keysLE).order(ByteOrder.LITTLE_ENDIAN)
            .asLongBuffer().get(keys);
        return populate(keys, kind, arity).toBytes();
    }

    /* ---- the aggregate ---------------------------------------------------- */

    /** A shard's keys so far, duplicates included: the first {@code n}
     *  slots of a growable array.  The bean property is the filled
     *  prefix, the only part the partial's encoder writes. */
    public static final class Keys implements Serializable {
        private static final long serialVersionUID = 1L;
        long[] keys = new long[16];
        int n;

        public long[] getKeys() {
            return n == keys.length ? keys : Arrays.copyOf(keys, n);
        }

        public void setKeys(long[] keys) {
            this.keys = keys;
            this.n = keys.length;
        }

        void grow(int need) {
            if (need > keys.length) {
                keys = Arrays.copyOf(keys,
                    Math.max(need, keys.length + (keys.length >> 1)));
            }
        }
    }

    @Override
    public Object zero() {
        return new Keys();
    }

    @Override
    public Object reduce(Object buffer, Object key) {
        Keys b = (Keys) buffer;
        b.grow(b.n + 1);
        b.keys[b.n++] = (Long) key;
        return b;
    }

    @Override
    public Object merge(Object left, Object right) {
        Keys a = (Keys) left;
        Keys b = (Keys) right;
        if (a.n < b.n) {            /* copy the smaller one */
            Keys t = a;
            a = b;
            b = t;
        }
        a.grow(a.n + b.n);
        System.arraycopy(b.keys, 0, a.keys, a.n, b.n);
        a.n += b.n;
        return a;
    }

    /* the shard's keys -> (kind, num_shards, input_rows, distinct_keys,
     * seed, size_bytes, build_ms, payload) */
    @Override
    public Object finish(Object buffer) {
        long t0 = System.nanoTime();
        Keys b = (Keys) buffer;
        long rows = b.n;
        long[] keys = uniqueInPlace(b.keys, b.n);
        b.keys = new long[0];       /* let the peel reuse the memory */
        b.n = 0;
        Filter f = populate(keys, kind, arity);
        byte[] payload = f.toBytes();
        double ms = (System.nanoTime() - t0) / 1e6;
        return RowFactory.create(kind, numShards, rows, (long) keys.length,
                                 f.seed, f.sizeInBytes(), ms, payload);
    }

    @Override
    public Encoder<Object> bufferEncoder() {
        return erase(Encoders.bean(Keys.class));
    }

    @Override
    public Encoder<Object> outputEncoder() {
        return erase(Encoders.row((StructType) DataType.fromJson(rowJson)));
    }

    @SuppressWarnings("unchecked")
    private static Encoder<Object> erase(Encoder<?> e) {
        return (Encoder<Object>) e;
    }

    /** np.unique over uint64: sorted as unsigned, duplicates dropped. */
    static long[] unique(long[] raw) {
        return uniqueInPlace(Arrays.copyOf(raw, raw.length), raw.length);
    }

    /* an LSD radix sort of a[0, n) by byte, which orders the raw keys
     * as unsigned, then the duplicates dropped; sorts in a (or in its
     * scratch twin) and returns an array of exactly the unique keys */
    static long[] uniqueInPlace(long[] a, int n) {
        if (n == 0) {
            return new long[0];
        }
        int[][] count = new int[8][256];
        for (int i = 0; i < n; i++) {
            long v = a[i];
            for (int d = 0; d < 8; d++) {
                count[d][(int) (v >>> (8 * d)) & 0xFF]++;
            }
        }
        long[] src = a;
        long[] dst = null;
        for (int d = 0; d < 8; d++) {
            int shift = 8 * d;
            int[] c = count[d];
            if (c[(int) (src[0] >>> shift) & 0xFF] == n) {
                continue;           /* every key shares this byte */
            }
            if (dst == null) {
                dst = new long[n];
            }
            for (int j = 0, sum = 0; j < 256; j++) {
                int t = c[j];
                c[j] = sum;
                sum += t;
            }
            for (int i = 0; i < n; i++) {
                long v = src[i];
                dst[c[(int) (v >>> shift) & 0xFF]++] = v;
            }
            long[] t = src;
            src = dst;
            dst = t;
        }
        int u = 1;
        for (int i = 1; i < n; i++) {
            if (src[i] != src[u - 1]) {
                src[u++] = src[i];
            }
        }
        return u == src.length ? src : Arrays.copyOf(src, u);
    }

    /* ---- sizing: local.xor_block_length and local.fuse_layout ---------- */

    static int xorBlockLength(long size) {
        return (int) ((long) (32 + 1.23 * size) / 3);
    }

    /** {SegmentLength, SegmentCount, SegmentCountLength, ArrayLength}
     *  as binary_fuse8_allocate computes them, uint32 wraparound
     *  included.  StrictMath.log stands in for libm's log: the sizes
     *  where a last-ulp difference would move a floor or a rounding
     *  are swept in tests/test_jvm_build.py. */
    static long[] fuseLayout(long size, int arity) {
        long segmentLength;
        if (size == 0) {
            segmentLength = 4;
        } else if (arity == 3) {
            segmentLength = 1L << (long) Math.floor(
                StrictMath.log(size) / StrictMath.log(3.33) + 2.25);
        } else {
            segmentLength = 1L << Math.max(0L, (long) Math.floor(
                StrictMath.log(size) / StrictMath.log(2.91) - 0.5));
        }
        segmentLength = Math.min(segmentLength, 262144);
        long capacity = 0;
        if (size > 1) {
            double factor = arity == 3
                ? Math.max(1.125, 0.875 + 0.25 * StrictMath.log(1000000.0)
                           / StrictMath.log(size))
                : Math.max(1.075, 0.77 + 0.305 * StrictMath.log(600000.0)
                           / StrictMath.log(size));
            capacity = (long) Math.floor(size * factor + 0.5) & MASK32;
        }
        long initSegmentCount = ((capacity + segmentLength - 1) / segmentLength
                                 - (arity - 1)) & MASK32;
        long arrayLength = ((initSegmentCount + arity - 1) * segmentLength)
            & MASK32;
        long segmentCount = (arrayLength + segmentLength - 1) / segmentLength;
        segmentCount = segmentCount <= arity - 1 ? 1 : segmentCount - (arity - 1);
        arrayLength = (segmentCount + arity - 1) * segmentLength;
        return new long[] {segmentLength, segmentCount,
                           segmentCount * segmentLength, arrayLength};
    }

    /** SHA-256 over the little-endian int32 sizing of every size in
     *  [from, to): the xor block length for {@code arity == 0}, else
     *  the four fuse layout fields. */
    public static byte[] layoutDigest(int arity, int from, int to)
            throws NoSuchAlgorithmException {
        MessageDigest md = MessageDigest.getInstance("SHA-256");
        ByteBuffer buf = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN);
        for (int size = from; size < to; size++) {
            buf.clear();
            if (arity == 0) {
                buf.putInt(xorBlockLength(size));
            } else {
                for (long v : fuseLayout(size, arity)) {
                    buf.putInt((int) v);
                }
            }
            md.update(buf.array(), 0, buf.position());
        }
        return md.digest();
    }

    /* ---- populate --------------------------------------------------------- */

    /** A built filter: the wire header fields and int-wide fingerprint
     *  cells (only the low {@code width} bytes are serialized; xor and
     *  truncation commute, so the cells equal the C kernel's). */
    static final class Filter {
        final boolean xor;
        final int width;
        final long seed;
        final long[] header;
        final int[] fp;

        Filter(boolean xor, int width, long seed, long[] header, int[] fp) {
            this.xor = xor;
            this.width = width;
            this.seed = seed;
            this.header = header;
            this.fp = fp;
        }

        long sizeInBytes() {
            return (long) fp.length * width + (xor ? 24 : 40);
        }

        /* xorfilter.h:1296-1313 / binaryfusefilter.h:792-806 */
        byte[] toBytes() {
            int head = xor ? 16 : 28;
            ByteBuffer b = ByteBuffer.allocate(head + fp.length * width)
                .order(ByteOrder.LITTLE_ENDIAN);
            b.putLong(seed);
            if (xor) {
                b.putLong(header[0]);
            } else {
                for (long v : header) {
                    b.putInt((int) v);
                }
            }
            for (int v : fp) {
                switch (width) {
                    case 1:
                        b.put((byte) v);
                        break;
                    case 2:
                        b.putShort((short) v);
                        break;
                    default:
                        b.putInt(v);
                }
            }
            return b.array();
        }
    }

    static Filter populate(long[] keys, String kind, int arity) {
        boolean xor = kind.startsWith("xor");
        int width = Integer.parseInt(kind.substring(xor ? 3 : 4)) / 8;
        return xor ? populateXor(keys, width) : populateFuse(keys, width, arity);
    }

    /* local.XorFilter.build */
    private static Filter populateXor(long[] keys, int width) {
        if (keys.length == 0) {
            throw new IllegalArgumentException(
                "xor filters cannot be built over 0 keys");
        }
        int bl = xorBlockLength(keys.length);
        int m = 3 * bl;
        long rng = XOR_RNG_START + GAMMA;
        long seed = splitmix(rng);
        Peel p;
        for (int iterations = 1; ; iterations++) {
            if (iterations == XOR_SORT_ITERATIONS) {
                keys = unique(keys);
            }
            if (iterations > MAX_ITERATIONS) {
                throw new IllegalStateException(
                    "xor populate failed after 100 seeds");
            }
            p = new Peel(keys.length, m, 3);
            p.xorPrepare(keys, seed, bl);
            if (p.peel() == keys.length) {
                break;
            }
            p = null;               /* unreachable before the next attempt */
            rng += GAMMA;
            seed = splitmix(rng);
        }
        return new Filter(true, width, seed, new long[] {bl}, p.assign());
    }

    /* local.FuseFilter.build */
    private static Filter populateFuse(long[] keys, int width, int arity) {
        long[] layout = fuseLayout(keys.length, arity);
        long rng = FUSE_RNG_START + GAMMA;
        long seed = splitmix(rng);
        long[] current = keys;
        Peel p;
        for (int attempt = 1; ; attempt++) {
            if (attempt > MAX_ITERATIONS) {
                throw new IllegalStateException(
                    "fuse populate failed after 100 seeds");
            }
            p = fuseAttempt(current, seed, layout, arity);
            if (p.peeled != current.length) {
                /* duplicates never peel: rerun this seed over the unique
                 * keys and keep them for later seeds */
                long[] uniq = unique(current);
                if (uniq.length < current.length) {
                    current = uniq;
                    p = null;
                    p = fuseAttempt(current, seed, layout, arity);
                }
            }
            if (p.peeled == current.length) {
                break;
            }
            p = null;               /* unreachable before the next attempt */
            rng += GAMMA;
            seed = splitmix(rng);
        }
        long[] header = {keys.length, layout[0], layout[1], layout[2],
                         layout[3]};
        return new Filter(false, width, seed, header, p.assign());
    }

    /* prepare, then the reference's 6-bit counter abort on a cell of 64+
     * keys (binaryfusefilter.h:374-377), then peel */
    private static Peel fuseAttempt(long[] keys, long seed, long[] layout,
                                    int arity) {
        Peel p = new Peel(keys.length, (int) layout[3], arity);
        p.fusePrepare(keys, seed, (int) layout[0], layout[2],
                      (int) layout[1]);
        long max = Long.MIN_VALUE;
        for (long s : p.state) {
            max = Math.max(max, s);
        }
        p.peeled = (max >> 32) >= 64 ? -1 : p.peel();
        return p;
    }

    static long splitmix(long z) {
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
        return z ^ (z >>> 31);
    }

    /** One attempt's arrays: ffkernel.c's prepare -> ff_peel_pre ->
     *  lean assign, with the same bucket order, row ids and queue order,
     *  hence the same fingerprint bytes. */
    private static final class Peel {
        final long[] mixed;
        final int[][] g;
        final long[] state;
        final int[] order;
        final int[] ocell;
        int peeled;

        Peel(int n, int m, int arity) {
            mixed = new long[n];
            g = new int[arity][n];
            state = new long[m];
            order = new int[n];
            ocell = new int[n];
        }

        /* ff_fuse_prepare / ff_fuse_prepare4: counting sort by h0
         * segment, then cells and state */
        void fusePrepare(long[] keys, long seed, int sl, long scl, int sc) {
            int n = keys.length;
            int mask = sl - 1;
            int log2sl = Integer.numberOfTrailingZeros(sl);
            int[] pos = new int[sc + 1];
            for (int i = 0; i < n; i++) {
                long h = FilterProbe.murmur64(keys[i] + seed);
                pos[(FilterProbe.mulhi(h, scl) >>> log2sl) + 1]++;
            }
            for (int b = 1; b <= sc; b++) {
                pos[b] += pos[b - 1];
            }
            /* the hash again rather than ffkernel.c's 8 B/key tmp array */
            for (int i = 0; i < n; i++) {
                long h = FilterProbe.murmur64(keys[i] + seed);
                mixed[pos[FilterProbe.mulhi(h, scl) >>> log2sl]++] = h;
            }
            boolean four = g.length == 4;
            for (int i = 0; i < n; i++) {
                long h = mixed[i];
                int a = FilterProbe.mulhi(h, scl);
                if (four) {
                    long oh = FilterProbe.murmur64(h);
                    add(i, a, (a + sl) ^ ((int) (oh >>> 36) & mask),
                        (a + 2 * sl) ^ ((int) (oh >>> 18) & mask));
                    g[3][i] = (a + 3 * sl) ^ ((int) oh & mask);
                    state[g[3][i]] = (state[g[3][i]] + ONE) ^ i;
                } else {
                    add(i, a, (a + sl) ^ ((int) (h >>> 18) & mask),
                        (a + 2 * sl) ^ ((int) h & mask));
                }
            }
        }

        /* ff_xor_prepare with native.py's 1024 buckets: bucket by the
         * top 10 bits of low32(h), then three Lemire-reduced cells, one
         * per block */
        void xorPrepare(long[] keys, long seed, int bl) {
            int n = keys.length;
            int nbuckets = 1024;
            int shift = 22;
            int[] pos = new int[nbuckets + 1];
            for (int i = 0; i < n; i++) {
                long h = FilterProbe.murmur64(keys[i] + seed);
                pos[(int) ((h & MASK32) >>> shift) + 1]++;
            }
            for (int b = 1; b <= nbuckets; b++) {
                pos[b] += pos[b - 1];
            }
            for (int i = 0; i < n; i++) {
                long h = FilterProbe.murmur64(keys[i] + seed);
                mixed[pos[(int) ((h & MASK32) >>> shift)]++] = h;
            }
            for (int i = 0; i < n; i++) {
                long h = mixed[i];
                add(i, FilterProbe.reduce((int) h, bl),
                    FilterProbe.reduce((int) Long.rotateLeft(h, 21), bl) + bl,
                    FilterProbe.reduce((int) Long.rotateLeft(h, 42), bl)
                        + 2 * bl);
            }
        }

        /* state[c] = count << 32 | xor of row ids */
        private void add(int row, int a, int b, int c) {
            g[0][row] = a;
            g[1][row] = b;
            g[2][row] = c;
            state[a] = (state[a] + ONE) ^ row;
            state[b] = (state[b] + ONE) ^ row;
            state[c] = (state[c] + ONE) ^ row;
        }

        /* ff_peel_pre: a count-1 cell's row-id xor is its remaining row */
        int peel() {
            int[] queue = new int[state.length];
            int head = 0;
            int tail = 0;
            for (int c = 0; c < state.length; c++) {
                if ((state[c] >> 32) == 1) {
                    queue[tail++] = c;
                }
            }
            int np = 0;
            while (head < tail) {
                int cell = queue[head++];
                long st = state[cell];
                if ((st >> 32) != 1) {
                    continue;
                }
                int row = (int) st;
                ocell[np] = cell;
                order[np++] = row;
                for (int[] gk : g) {
                    int c = gk[row];
                    long s = (state[c] - ONE) ^ row;
                    state[c] = s;
                    if ((s >> 32) == 1) {
                        queue[tail++] = c;
                    }
                }
            }
            peeled = np;
            return np;
        }

        /* ff_assign*_g: reverse peel order */
        int[] assign() {
            int[] fp = new int[state.length];
            for (int i = peeled - 1; i >= 0; i--) {
                int row = order[i];
                long h = mixed[row];
                int v = (int) (h ^ (h >>> 32));
                for (int[] gk : g) {
                    v ^= fp[gk[row]];
                }
                fp[ocell[i]] = v;
            }
            return fp;
        }
    }
}
