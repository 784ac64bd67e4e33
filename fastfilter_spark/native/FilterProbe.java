/* fastfilter_spark JVM probe: membership of one key in a sharded xor /
 * binary-fuse filter or in a sketches.Bloom, evaluated inside Spark's
 * JVM so the key never crosses into a Python worker.
 *
 * contain() is the ffkernel.c probe written again in Java:
 * murmur64(key + seed), then three Lemire reductions (xor,
 * xorfilter.h:96-108) or the mulhi segment map with windowed offsets
 * (binary fuse, binaryfusefilter.h:178-187; arity 4 draws its offsets
 * from a second murmur mix, kernels.fuse_index_quad), three or four
 * fingerprint gathers, an xor and a compare.  A key is routed to its
 * shard by Spark's own XXH64.hashLong(key, 42), the function that
 * F.xxhash64 runs in dist.keys_with_shard, so routing matches the build
 * bit for bit.  A null key is never a member, nor is any key routed to
 * a shard that holds no key.  bloomContains() is sketches.Bloom.contains.
 *
 * Compiled on demand with FilterBuild.java into one jar by
 * fastfilter_spark/functions/native.py (Spark's bundled Janino against
 * the pyspark jars) and wired by operators/dist.py broadcast_probe: ADD
 * JAR, one JVM Broadcast of the payload, functions.udf.  The broadcast
 * value holds JDK arrays only, because in local mode the executors read
 * the driver's object while loading this class through another class
 * loader.  Janino ignores type arguments and emits no bridge methods,
 * hence the Object signatures.
 */
package fastfilter_spark;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.List;

import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.catalyst.expressions.XXH64;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;

public final class FilterProbe implements UDF1<Object, Object> {
    private static final long serialVersionUID = 1L;

    /* Per shard, FIELDS longs: seed, arity (0: the shard holds no key),
     * then the layout ints (xor: blockLength, 0; fuse: SegmentLength,
     * SegmentCountLength).  A Bloom filter has the two longs n_bits, k
     * and one byte array, its bits. */
    private static final int FIELDS = 4;

    /* {long[] fields, byte[][] per-shard fingerprints or the Bloom bits} */
    private final Broadcast<?> shards;
    private final boolean bloom;
    private final boolean xor;
    private final int width;          /* fingerprint bytes: 1, 2 or 4 */

    private transient long[] params;
    private transient ByteBuffer[] cells;

    /** The driver-side factory: py4j instantiates it by reflection
     *  through the session's jar class loader, then calls
     *  {@link #payload} and {@link #udf}. */
    public FilterProbe() {
        this(null, "bloom");
    }

    private FilterProbe(Broadcast<?> shards, String kind) {
        this.shards = shards;
        this.bloom = kind.equals("bloom");
        this.xor = kind.startsWith("xor");
        this.width = bloom ? 1
            : Integer.parseInt(kind.substring(xor ? 3 : 4)) / 8;
    }

    /** The value to broadcast: {@code header} is the fields as
     *  little-endian longs, {@code arrays} one byte[] per shard. */
    public Object[] payload(byte[] header, List<?> arrays) {
        long[] fields = new long[header.length / 8];
        ByteBuffer.wrap(header).order(ByteOrder.LITTLE_ENDIAN)
            .asLongBuffer().get(fields);
        byte[][] bytes = new byte[arrays.size()][];
        for (int i = 0; i < bytes.length; i++) {
            bytes[i] = (byte[]) arrays.get(i);
        }
        return new Object[] {fields, bytes};
    }

    /** A {@code long -> boolean} UDF probing the broadcast payload of a
     *  filter of {@code kind}: an xor or fuse kind, or "bloom". */
    public UserDefinedFunction udf(Broadcast<?> shards, String kind) {
        return functions.udf(new FilterProbe(shards, kind),
                             DataTypes.BooleanType);
    }

    /* The key is a Number, not a Long: Spark hands a SQL caller's INT
     * or SMALLINT argument over unconverted. */
    @Override
    public Object call(Object key) {
        if (key == null) {
            return Boolean.FALSE;
        }
        if (params == null) {
            Object[] value = (Object[]) shards.value();
            byte[][] bytes = (byte[][]) value[1];
            ByteBuffer[] views = new ByteBuffer[bytes.length];
            for (int i = 0; i < views.length; i++) {
                views[i] = ByteBuffer.wrap(bytes[i])
                    .order(ByteOrder.LITTLE_ENDIAN);
            }
            cells = views;
            params = (long[]) value[0];
        }
        long k = ((Number) key).longValue();
        return Boolean.valueOf(bloom ? bloomContains(k) : contain(k));
    }

    private boolean contain(long k) {
        /* pmod(xxhash64(key), S): the shard count is a power of two */
        int s = (int) (XXH64.hashLong(k, 42L) & (cells.length - 1));
        int o = s * FIELDS;
        if (params[o + 1] == 0) {
            return false;
        }
        ByteBuffer fp = cells[s];
        long h = murmur64(k + params[o]);
        int x = (int) (h ^ (h >>> 32));
        if (xor) {
            int bl = (int) params[o + 2];
            x ^= cell(fp, reduce((int) h, bl))
                ^ cell(fp, reduce((int) Long.rotateLeft(h, 21), bl) + bl)
                ^ cell(fp, reduce((int) Long.rotateLeft(h, 42), bl) + 2 * bl);
        } else {
            int sl = (int) params[o + 2];
            long scl = params[o + 3];
            int mask = sl - 1;
            int a = mulhi(h, scl);
            if (params[o + 1] == 4) {
                long oh = murmur64(h);
                x ^= cell(fp, a)
                    ^ cell(fp, (a + sl) ^ ((int) (oh >>> 36) & mask))
                    ^ cell(fp, (a + 2 * sl) ^ ((int) (oh >>> 18) & mask))
                    ^ cell(fp, (a + 3 * sl) ^ ((int) oh & mask));
            } else {
                x ^= cell(fp, a)
                    ^ cell(fp, (a + sl) ^ ((int) (h >>> 18) & mask))
                    ^ cell(fp, (a + 2 * sl) ^ ((int) h & mask));
            }
        }
        int fpMask = width == 4 ? -1 : (1 << (8 * width)) - 1;
        return (x & fpMask) == 0;
    }

    private int cell(ByteBuffer fp, int i) {
        switch (width) {
            case 1:
                return fp.get(i) & 0xFF;
            case 2:
                return fp.getShort(2 * i) & 0xFFFF;
            default:
                return fp.getInt(4 * i);
        }
    }

    /* sketches.Bloom.contains: bit (h1 + i*h2) mod n_bits for i < k,
     * unsigned, h1 = murmur64(key), h2 = murmur64(key + 1) | 1, bits
     * read LSB-first within each byte */
    private boolean bloomContains(long key) {
        long nBits = params[0];
        long h1 = murmur64(key);
        long h2 = murmur64(key + 1) | 1;
        ByteBuffer bits = cells[0];
        for (long i = 0; i < params[1]; i++) {
            long p = Long.remainderUnsigned(h1 + i * h2, nBits);
            if ((bits.get((int) (p >>> 3)) >> (int) (p & 7) & 1) == 0) {
                return false;
            }
        }
        return true;
    }

    static long murmur64(long h) {
        h ^= h >>> 33;
        h *= 0xFF51AFD7ED558CCDL;
        h ^= h >>> 33;
        h *= 0xC4CEB9FE1A85EC53L;
        h ^= h >>> 33;
        return h;
    }

    /* Lemire range reduction of a 32-bit hash into [0, n) */
    static int reduce(int hash32, int n) {
        return (int) (((hash32 & 0xFFFFFFFFL) * (n & 0xFFFFFFFFL)) >>> 32);
    }

    /* the fuse segment map h0: unsigned mulhi(h, scl); scl < 2^32, so
     * the result fits (--release 17 has no Math.unsignedMultiplyHigh) */
    static int mulhi(long h, long scl) {
        return (int) (Math.multiplyHigh(h, scl) + ((h >> 63) & scl));
    }
}
