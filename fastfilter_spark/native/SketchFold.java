/* fastfilter_spark JVM sketch folds: the mergeable sketches of
 * functions/sketches.py (HyperLogLog, CountMin, Bloom, ThetaKMV, KLL)
 * and the bottom-k of operators/kmv.py, folded inside Spark's JVM so
 * the values never cross into a Python worker.
 *
 * Each fold is a narrow Dataset.mapPartitions: a task folds its rows
 * into one sketch per name and emits one (name, to_bytes()) row, the
 * rows the Python fold of operators/sketch_agg.py emits.  A sketch
 * starts from its empty sketch's to_bytes(), made once on the driver,
 * so the bytes carry every parameter (p, width and depth, n_bits and
 * k, the KMV k, the KLL k).  The bytes equal sketches.py's for HLL
 * (sparse HLS1 and dense HLL1 alike), CMS, Bloom and ThetaKMV; a KLL
 * compacts CHUNK values at a time, as the Python fold compacts one Arrow
 * batch at a time, with the same capacities and coin, and keeps n
 * exact.  merge() is the tree-merge level over such rows; bottomK()
 * keeps each task's k smallest distinct longs in signed order, as
 * np.unique over int64 does.  This class is the driver-side factory of
 * the three; Fold, Merge and Smallest are their task functions.
 *
 * Compiled with FilterProbe.java and FilterBuild.java into one jar by
 * functions/native.py (Spark's bundled Janino).  Janino ignores type
 * arguments and emits no bridge methods, hence the Object signatures.
 */
package fastfilter_spark;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Iterator;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.api.java.function.MapPartitionsFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.types.StructType;

public final class SketchFold {
    /* sketch_agg._NAMED_BLOB_SCHEMA */
    private static final String BLOBS = "name string, sketch binary";

    /** The driver-side factory: py4j instantiates it by reflection
     *  through the session's jar class loader, then calls {@link #fold},
     *  {@link #merge} or {@link #bottomK}. */
    public SketchFold() {
    }

    /** (name, sketch) rows, one per name per task that saw a row:
     *  {@code values}' first column, read as double when {@code
     *  doubles} (KLL only) and as long otherwise, folded into each
     *  sketch of {@code empties} (its empty to_bytes()). */
    public Dataset<Object> fold(Dataset<Object> values, List<?> names,
                                List<?> empties, boolean doubles) {
        String[] n = new String[names.size()];
        byte[][] e = new byte[n.length][];
        for (int i = 0; i < n.length; i++) {
            n[i] = (String) names.get(i);
            e[i] = (byte[]) empties.get(i);
        }
        return values.mapPartitions(new Fold(n, e, doubles),
                                    erase(Encoders.row(StructType.fromDDL(BLOBS))));
    }

    /** One (name, sketch) row per name per task: the task's rows of
     *  {@code blobs} merged by name. */
    public Dataset<Object> merge(Dataset<Object> blobs) {
        return blobs.mapPartitions(new Merge(),
                                   erase(Encoders.row(StructType.fromDDL(BLOBS))));
    }

    /** ({@code h} long) rows: each task's k smallest distinct values of
     *  {@code hashes}' first column, in signed order. */
    public Dataset<Object> bottomK(Dataset<Object> hashes, int k) {
        return hashes.mapPartitions(new Smallest(k),
                                    erase(Encoders.row(StructType.fromDDL("h long"))));
    }

    @SuppressWarnings("unchecked")
    private static Encoder<Object> erase(Encoder<?> e) {
        return (Encoder<Object>) e;
    }

    /* a (name, to_bytes()) row per sketch of acc, a map of name to Sketch */
    private static Iterator<Object> blobs(Map<String, Object> acc) {
        List<Object> out = new ArrayList<Object>();
        for (Object name : acc.keySet()) {
            out.add(RowFactory.create(name, ((Sketch) acc.get(name)).toBytes()));
        }
        return out.iterator();
    }

    static final class Fold implements MapPartitionsFunction<Object, Object> {
        private static final long serialVersionUID = 1L;
        private final String[] names;
        private final byte[][] empties;
        private final boolean doubles;

        Fold(String[] names, byte[][] empties, boolean doubles) {
            this.names = names;
            this.empties = empties;
            this.doubles = doubles;
        }

        @Override
        public Iterator<Object> call(Iterator<Object> rows) {
            Map<String, Object> acc = new LinkedHashMap<String, Object>();
            Sketch[] sks = null;
            while (rows.hasNext()) {
                Object v = ((Row) rows.next()).get(0);
                if (v == null) {
                    continue;
                }
                if (sks == null) {      /* a task with no value emits no row */
                    sks = new Sketch[names.length];
                    for (int i = 0; i < sks.length; i++) {
                        sks[i] = parse(empties[i]);
                        acc.put(names[i], sks[i]);
                    }
                }
                if (doubles) {
                    double d = ((Number) v).doubleValue();
                    for (Sketch s : sks) {
                        s.addDouble(d);
                    }
                } else {
                    long x = ((Number) v).longValue();
                    for (Sketch s : sks) {
                        s.addLong(x);
                    }
                }
            }
            return blobs(acc);
        }
    }

    static final class Merge implements MapPartitionsFunction<Object, Object> {
        private static final long serialVersionUID = 1L;

        @Override
        public Iterator<Object> call(Iterator<Object> rows) {
            Map<String, Object> acc = new LinkedHashMap<String, Object>();
            while (rows.hasNext()) {
                Row r = (Row) rows.next();
                Sketch s = parse((byte[]) r.get(1));
                Sketch had = (Sketch) acc.get(r.getString(0));
                if (had == null) {
                    acc.put(r.getString(0), s);
                } else {
                    had.merge(s);
                }
            }
            return blobs(acc);
        }
    }

    /* signed order is unsigned order with the sign bit flipped */
    static final class Smallest implements MapPartitionsFunction<Object, Object> {
        private static final long serialVersionUID = 1L;
        private final int k;

        Smallest(int k) {
            this.k = k;
        }

        @Override
        public Iterator<Object> call(Iterator<Object> rows) {
            BottomK keep = new BottomK(k);
            while (rows.hasNext()) {
                Object v = ((Row) rows.next()).get(0);
                if (v != null) {
                    keep.add(((Number) v).longValue() ^ Long.MIN_VALUE);
                }
            }
            List<Object> out = new ArrayList<Object>();
            for (long u : keep.values()) {
                out.add(RowFactory.create(Long.valueOf(u ^ Long.MIN_VALUE)));
            }
            return out.iterator();
        }
    }

    /* ---- the sketches ------------------------------------------------------ */

    /** The sketch whose to_bytes() is {@code b}, by its magic. */
    static Sketch parse(byte[] b) {
        ByteBuffer buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN);
        String magic = new String(b, 0, 4, StandardCharsets.US_ASCII);
        if (magic.equals("HLL1") || magic.equals("HLS1")) {
            return Hll.parse(buf, magic.equals("HLS1"));
        }
        if (magic.equals("CMS1")) {
            return CountMin.parse(buf);
        }
        if (magic.equals("BLM1")) {
            return Bloom.parse(buf);
        }
        if (magic.equals("TKV1")) {
            return Theta.parse(buf);
        }
        if (magic.equals("KLL1")) {
            return Kll.parse(buf);
        }
        throw new IllegalArgumentException(
            "no JVM fold for sketch bytes starting " + magic);
    }

    abstract static class Sketch {
        abstract void addLong(long v);

        void addDouble(double v) {
            throw new UnsupportedOperationException(
                getClass().getSimpleName() + " folds long values");
        }

        abstract void merge(Sketch other);

        abstract byte[] toBytes();

        /* an n-byte little-endian buffer, its 4-byte magic written */
        static ByteBuffer out(int n, String magic) {
            return ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
                .put(magic.getBytes(StandardCharsets.US_ASCII));
        }
    }

    /* sketches.HyperLogLog: 2^p uint8 registers, rho of murmur64(v) */
    static final class Hll extends Sketch {
        private final int p;
        private final byte[] regs;

        private Hll(int p, byte[] regs) {
            this.p = p;
            this.regs = regs;
        }

        static Hll parse(ByteBuffer b, boolean sparse) {
            int p = b.get(4);
            byte[] regs = new byte[1 << p];
            if (sparse) {
                int nnz = b.getInt(5);
                for (int i = 0; i < nnz; i++) {
                    regs[b.getInt(9 + 4 * i)] = b.get(9 + 4 * nnz + i);
                }
            } else {
                b.position(5);
                b.get(regs);
            }
            return new Hll(p, regs);
        }

        @Override
        void addLong(long v) {
            long h = FilterProbe.murmur64(v);
            int idx = (int) (h >>> (64 - p));
            /* the sentinel bit bounds rho at 64 - p + 1 */
            int rho = Long.numberOfLeadingZeros((h << p) | (1L << (p - 1))) + 1;
            if (rho > regs[idx]) {
                regs[idx] = (byte) rho;
            }
        }

        @Override
        void merge(Sketch other) {
            Hll o = (Hll) other;
            if (o.p != p) {
                throw new IllegalArgumentException("HLL precision mismatch");
            }
            for (int i = 0; i < regs.length; i++) {
                regs[i] = (byte) Math.max(regs[i], o.regs[i]);
            }
        }

        /* sparse (index u32, rho u8 pairs) while nnz*5 + 4 < m */
        @Override
        byte[] toBytes() {
            int nnz = 0;
            for (byte r : regs) {
                if (r != 0) {
                    nnz++;
                }
            }
            if (nnz * 5 + 4 < regs.length) {
                ByteBuffer b = out(9 + 5 * nnz, "HLS1").put((byte) p).putInt(nnz);
                int at = 9 + 4 * nnz;
                for (int i = 0; i < regs.length; i++) {
                    if (regs[i] != 0) {
                        b.putInt(i);
                        b.put(at++, regs[i]);
                    }
                }
                return b.array();
            }
            return out(5 + regs.length, "HLL1").put((byte) p).put(regs).array();
        }
    }

    /* sketches.CountMin: depth x width int64 counters, row i hashed by
     * murmur64(v + 0x9E3779B9 + i), column by a Lemire reduction */
    static final class CountMin extends Sketch {
        private final long width;
        private final int depth;
        private final long[] table;
        private long total;

        private CountMin(long width, int depth, long[] table, long total) {
            this.width = width;
            this.depth = depth;
            this.table = table;
            this.total = total;
        }

        static CountMin parse(ByteBuffer b) {
            long width = b.getInt(4) & 0xFFFFFFFFL;
            int depth = b.getInt(8);
            long[] table = new long[(int) width * depth];
            b.position(20);
            b.asLongBuffer().get(table);
            return new CountMin(width, depth, table, b.getLong(12));
        }

        @Override
        void addLong(long v) {
            for (int i = 0; i < depth; i++) {
                long h = FilterProbe.murmur64(v + 0x9E3779B9L + i);
                table[(int) (i * width + (((h & 0xFFFFFFFFL) * width) >>> 32))]++;
            }
            total++;
        }

        @Override
        void merge(Sketch other) {
            CountMin o = (CountMin) other;
            if (o.width != width || o.depth != depth) {
                throw new IllegalArgumentException("CMS shape mismatch");
            }
            for (int i = 0; i < table.length; i++) {
                table[i] += o.table[i];
            }
            total += o.total;
        }

        @Override
        byte[] toBytes() {
            ByteBuffer b = out(20 + 8 * table.length, "CMS1")
                .putInt((int) width).putInt(depth).putLong(total);
            b.asLongBuffer().put(table);
            return b.array();
        }
    }

    /* sketches.Bloom: bits (h1 + i*h2) mod n_bits for i < k, h1 =
     * murmur64(v), h2 = murmur64(v + 1) | 1, LSB-first in each byte */
    static final class Bloom extends Sketch {
        private final long nBits;
        private final int k;
        private final byte[] bits;

        private Bloom(long nBits, int k, byte[] bits) {
            this.nBits = nBits;
            this.k = k;
            this.bits = bits;
        }

        static Bloom parse(ByteBuffer b) {
            long nBits = b.getLong(4);
            byte[] bits = new byte[(int) ((nBits + 7) / 8)];
            b.position(16);
            b.get(bits);
            return new Bloom(nBits, b.getInt(12), bits);
        }

        @Override
        void addLong(long v) {
            long h1 = FilterProbe.murmur64(v);
            long h2 = FilterProbe.murmur64(v + 1) | 1;
            for (long i = 0; i < k; i++) {
                long p = Long.remainderUnsigned(h1 + i * h2, nBits);
                bits[(int) (p >>> 3)] |= (byte) (1 << (int) (p & 7));
            }
        }

        @Override
        void merge(Sketch other) {
            Bloom o = (Bloom) other;
            if (o.nBits != nBits || o.k != k) {
                throw new IllegalArgumentException("Bloom shape mismatch");
            }
            for (int i = 0; i < bits.length; i++) {
                bits[i] |= o.bits[i];
            }
        }

        @Override
        byte[] toBytes() {
            return out(16 + bits.length, "BLM1").putLong(nBits).putInt(k)
                .put(bits).array();
        }
    }

    /* sketches.ThetaKMV: the k smallest distinct murmur64(v), unsigned */
    static final class Theta extends Sketch {
        private final int k;
        private final BottomK keep;

        private Theta(int k) {
            this.k = k;
            this.keep = new BottomK(k);
        }

        static Theta parse(ByteBuffer b) {
            Theta t = new Theta(b.getInt(4));
            long n = b.getLong(8);
            for (int i = 0; i < n; i++) {
                t.keep.add(b.getLong(16 + 8 * i));
            }
            return t;
        }

        @Override
        void addLong(long v) {
            keep.add(FilterProbe.murmur64(v));
        }

        @Override
        void merge(Sketch other) {
            Theta o = (Theta) other;
            if (o.k != k) {
                throw new IllegalArgumentException("ThetaKMV k mismatch");
            }
            for (long h : o.keep.values()) {
                keep.add(h);
            }
        }

        @Override
        byte[] toBytes() {
            long[] v = keep.values();
            ByteBuffer b = out(16 + 8 * v.length, "TKV1").putInt(k)
                .putLong(v.length);
            b.asLongBuffer().put(v);
            return b.array();
        }
    }

    /* sketches.KLL: levels of doubles, level h of weight 2^h; a level
     * over its capacity max(2, ceil(k (2/3)^height)) sorts and promotes
     * every other item from a splitmix64 coin's offset, its odd last
     * item staying behind */
    static final class Kll extends Sketch {
        /* the Python fold's Arrow batch, the default of
         * spark.sql.execution.arrow.maxRecordsPerBatch */
        static final int CHUNK = 10000;
        private static final long COIN_START = 0xC0FFEEL;

        private final int k;
        private long n;
        private long coin;
        private final List<Object> levels;   /* of double[] */
        private double[] pending;
        private int held;

        private Kll(int k, long n, long coin, List<Object> levels) {
            this.k = k;
            this.n = n;
            this.coin = coin;
            this.levels = levels;
        }

        static Kll parse(ByteBuffer b) {
            int nlev = b.getInt(24);
            List<Object> levels = new ArrayList<Object>();
            int at = 28;
            for (int h = 0; h < nlev; h++) {
                double[] lvl = new double[b.getInt(at)];
                for (int i = 0; i < lvl.length; i++) {
                    lvl[i] = b.getDouble(at + 4 + 8 * i);
                }
                levels.add(lvl);
                at += 4 + 8 * lvl.length;
            }
            return new Kll(b.getInt(4), b.getLong(8), b.getLong(16), levels);
        }

        @Override
        void addLong(long v) {
            addDouble((double) v);
        }

        @Override
        void addDouble(double v) {
            if (Double.isNaN(v)) {
                return;
            }
            if (pending == null) {
                pending = new double[CHUNK];
            }
            pending[held++] = v;
            if (held == CHUNK) {
                flush();
            }
        }

        /* KLL.update over the held values */
        private void flush() {
            if (held == 0) {
                return;
            }
            levels.set(0, concat(level(0), pending, held));
            n += held;
            held = 0;
            compress();
        }

        private int capacity(int level) {
            int height = levels.size() - 1 - level;
            return Math.max(2, (int) Math.ceil(k * Math.pow(2.0 / 3.0, height)));
        }

        private void compress() {
            for (int lvl = 0; lvl < levels.size(); lvl++) {
                double[] buf = level(lvl);
                if (buf.length <= capacity(lvl)) {
                    continue;
                }
                buf = Arrays.copyOf(buf, buf.length);
                Arrays.sort(buf);
                coin += FilterBuild.GAMMA;
                int off = (int) (FilterBuild.splitmix(coin) & 1);
                int even = buf.length & ~1;
                double[] promoted = new double[even / 2];
                for (int i = off, j = 0; i < even; i += 2) {
                    promoted[j++] = buf[i];
                }
                levels.set(lvl, (buf.length & 1) == 1
                    ? new double[] {buf[buf.length - 1]} : new double[0]);
                if (lvl + 1 == levels.size()) {
                    levels.add(new double[0]);
                }
                levels.set(lvl + 1, concat(level(lvl + 1), promoted,
                                           promoted.length));
            }
        }

        private double[] level(int h) {
            return (double[]) levels.get(h);
        }

        private static double[] concat(double[] a, double[] b, int nb) {
            double[] c = Arrays.copyOf(a, a.length + nb);
            System.arraycopy(b, 0, c, a.length, nb);
            return c;
        }

        @Override
        void merge(Sketch other) {
            Kll o = (Kll) other;
            if (o.k != k) {
                throw new IllegalArgumentException("KLL k mismatch");
            }
            flush();
            o.flush();
            for (int h = 0; h < o.levels.size(); h++) {
                double[] b = o.level(h);
                if (h == levels.size()) {
                    levels.add(Arrays.copyOf(b, b.length));
                } else {
                    levels.set(h, concat(level(h), b, b.length));
                }
            }
            n += o.n;
            coin ^= o.coin;
            if (coin == 0) {
                coin = COIN_START;
            }
            compress();
        }

        @Override
        byte[] toBytes() {
            flush();
            int size = 28;
            for (int h = 0; h < levels.size(); h++) {
                size += 4 + 8 * level(h).length;
            }
            ByteBuffer b = out(size, "KLL1").putInt(k).putLong(n).putLong(coin)
                .putInt(levels.size());
            for (int h = 0; h < levels.size(); h++) {
                double[] s = Arrays.copyOf(level(h), level(h).length);
                Arrays.sort(s);
                b.putInt(s.length);
                for (double d : s) {
                    b.putDouble(d);
                }
            }
            return b.array();
        }
    }

    /* the k smallest distinct longs added, in unsigned order: values
     * gather in a buffer that is sorted, deduplicated and cut to k when
     * it fills, and once k are kept a value at or above the k-th is
     * dropped on arrival */
    static final class BottomK {
        private final int k;
        private final long[] buf;
        private int n;
        private boolean full;
        private long cut;

        BottomK(int k) {
            this.k = k;
            this.buf = new long[Math.max(2 * k, 1024)];
        }

        void add(long u) {
            if (full && Long.compareUnsigned(u, cut) >= 0) {
                return;
            }
            if (n == buf.length) {
                compact();
            }
            buf[n++] = u;
        }

        long[] values() {
            compact();
            return Arrays.copyOf(buf, n);
        }

        private void compact() {
            long[] s = FilterBuild.uniqueInPlace(buf, n);
            int m = Math.min(k, s.length);
            if (s != buf) {
                System.arraycopy(s, 0, buf, 0, m);
            }
            n = m;
            if (m == k) {
                full = true;
                cut = buf[k - 1];
            }
        }
    }
}
