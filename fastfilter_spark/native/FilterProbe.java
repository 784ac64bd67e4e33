/* fastfilter_spark JVM probe: membership of one key in a sharded xor /
 * binary-fuse filter, evaluated inside Spark's JVM so the key never
 * crosses into a Python worker.
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
 * a shard that holds no key.
 *
 * Compiled on demand with FilterBuild.java into one jar by
 * fastfilter_spark/functions/native.py (javac against the pyspark
 * jars) and wired by operators/dist.py
 * broadcast_probe: ADD JAR, one JVM Broadcast of the shard payloads,
 * functions.udf.  The broadcast value holds JDK arrays only, because in
 * local mode the executors read the driver's object while loading this
 * class through another class loader.
 */
package fastfilter_spark;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.List;

import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.catalyst.expressions.XXH64;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;

public final class FilterProbe implements UDF1<Number, Boolean> {
    private static final long serialVersionUID = 1L;

    /* Per shard, FIELDS longs: seed, arity (0: the shard holds no key),
     * then the layout ints (xor: blockLength, 0; fuse: SegmentLength,
     * SegmentCountLength). */
    private static final int FIELDS = 4;

    private static final VarHandle U16 = MethodHandles.byteArrayViewVarHandle(
        short[].class, ByteOrder.LITTLE_ENDIAN);
    private static final VarHandle U32 = MethodHandles.byteArrayViewVarHandle(
        int[].class, ByteOrder.LITTLE_ENDIAN);

    /* {long[] per-shard fields, byte[][] per-shard fingerprints} */
    private final Broadcast<Object[]> shards;
    private final boolean xor;
    private final int width;          /* fingerprint bytes: 1, 2 or 4 */

    private transient long[] params;
    private transient byte[][] fingerprints;

    /** The driver-side factory: py4j instantiates it by reflection
     *  through the session's jar class loader, then calls
     *  {@link #payload} and {@link #udf}. */
    public FilterProbe() {
        this(null, false, 0);
    }

    private FilterProbe(Broadcast<Object[]> shards, boolean xor, int width) {
        this.shards = shards;
        this.xor = xor;
        this.width = width;
    }

    /** The value to broadcast: {@code header} is FIELDS little-endian
     *  longs per shard, {@code fingerprints} one array per shard. */
    public Object[] payload(byte[] header, List<byte[]> fingerprints) {
        long[] fields = new long[header.length / 8];
        ByteBuffer.wrap(header).order(ByteOrder.LITTLE_ENDIAN)
            .asLongBuffer().get(fields);
        return new Object[] {fields, fingerprints.toArray(new byte[0][])};
    }

    /** A {@code long -> boolean} UDF probing the broadcast shards. */
    public UserDefinedFunction udf(Broadcast<Object[]> shards, boolean xor,
                                   int width) {
        return functions.udf(new FilterProbe(shards, xor, width),
                             DataTypes.BooleanType);
    }

    /* The key is a Number, not a Long: Spark hands a SQL caller's INT
     * or SMALLINT argument over unconverted, and its long value is the
     * key the Arrow tier probes. */
    @Override
    public Boolean call(Number key) {
        if (key == null) {
            return Boolean.FALSE;
        }
        if (params == null) {
            Object[] value = shards.value();
            params = (long[]) value[0];
            fingerprints = (byte[][]) value[1];
        }
        long k = key.longValue();
        /* pmod(xxhash64(key), S): the shard count is a power of two */
        int s = (int) (XXH64.hashLong(k, 42L) & (fingerprints.length - 1));
        int o = s * FIELDS;
        if (params[o + 1] == 0) {
            return Boolean.FALSE;
        }
        byte[] fp = fingerprints[s];
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

    private int cell(byte[] fp, int i) {
        switch (width) {
            case 1:
                return fp[i] & 0xFF;
            case 2:
                return (short) U16.get(fp, 2 * i) & 0xFFFF;
            default:
                return (int) U32.get(fp, 4 * i);
        }
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
