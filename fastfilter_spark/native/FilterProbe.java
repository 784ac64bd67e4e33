/* fastfilter_spark JVM probe: membership of one key in a sharded xor /
 * binary-fuse filter or in a sketches.Bloom, evaluated inside Spark's
 * JVM so the key never crosses into a Python worker.
 *
 * Shard.parse reads a filter's wire bytes as stored, as the reference's
 * deserialize_header does (binaryfusefilter.h:813-880); it infers a fuse
 * arity from the layout as FuseFilter.from_bytes does.  Shard.contain
 * is the one contain (xorfilter.h:96-108, binaryfusefilter.h:178-187;
 * arity 4 as kernels.fuse_index_quad; sketches.Bloom.contains).  Keys
 * route to shards by Spark's own XXH64.hashLong(key, 42), the
 * F.xxhash64 of dist.keys_with_shard.  A null key, or a key of a shard
 * that holds no key, is never a member.
 *
 * Two probes share them: this class as a UDF over one JVM Broadcast of
 * the payloads (dist.broadcast_probe), and join(), a cogroup of the keys
 * with the filter table by shard (dist.probe_via_join).  Compiled with
 * FilterBuild.java and SketchFold.java into one jar by
 * functions/native.py (Spark's bundled Janino) and added with ADD JAR.
 * The broadcast value holds JDK types
 * only (a List of byte[]): in local mode the executors read the driver's
 * object while loading this class through another class loader.  Janino
 * ignores type arguments and emits no bridge methods, hence the Object
 * signatures.
 */
package fastfilter_spark;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.Arrays;
import java.util.Collections;
import java.util.Iterator;
import java.util.List;

import org.apache.spark.api.java.function.CoGroupFunction;
import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.KeyValueGroupedDataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.catalyst.expressions.XXH64;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

public final class FilterProbe implements UDF1<Object, Object> {
    private static final long serialVersionUID = 1L;
    private static final long MASK32 = 0xFFFFFFFFL;

    /* a List of byte[]: one payload per shard, or a Bloom filter's one */
    private final Broadcast<?> payloads;
    private final String kind;

    private transient Shard[] shards;

    /** The driver-side factory: py4j instantiates it by reflection
     *  through the session's jar class loader, then calls {@link #udf}
     *  or {@link #join}. */
    public FilterProbe() {
        this(null, "bloom");
    }

    private FilterProbe(Broadcast<?> payloads, String kind) {
        this.payloads = payloads;
        this.kind = kind;
    }

    /** A {@code long -> boolean} UDF probing the broadcast
     *  {@code payloads} (a List of byte[], one per shard) of a filter of
     *  {@code kind}: an xor or fuse kind, or "bloom". */
    public UserDefinedFunction udf(Broadcast<?> payloads, String kind) {
        return functions.udf(new FilterProbe(payloads, kind),
                             DataTypes.BooleanType);
    }

    /* The key is a Number, not a Long: Spark hands a SQL caller's INT
     * or SMALLINT argument over unconverted. */
    @Override
    public Object call(Object key) {
        if (key == null) {
            return Boolean.FALSE;
        }
        if (shards == null) {
            List<?> bytes = (List<?>) payloads.value();
            Shard[] parsed = new Shard[bytes.size()];
            for (int i = 0; i < parsed.length; i++) {
                parsed[i] = Shard.parse((byte[]) bytes.get(i), kind);
            }
            shards = parsed;
        }
        long k = ((Number) key).longValue();
        /* pmod(xxhash64(key), S): the shard count is a power of two */
        Shard s = shards.length == 1 ? shards[0]
            : shards[(int) (XXH64.hashLong(k, 42L) & (shards.length - 1))];
        return Boolean.valueOf(s.contain(k));
    }

    /* ---- the join probe --------------------------------------------------- */

    /** (key, member) rows for {@code keyed} (key long, shard int rows)
     *  against {@code table} (shard, kind, num_shards, payload rows):
     *  both grouped by shard and one cogroup.  A shard with no table row
     *  probes False; a shard with two raises, and so does a row whose
     *  num_shards is not {@code numShards}. */
    public Dataset<Object> join(Dataset<Object> keyed, Dataset<Object> table,
                                int numShards) {
        return byShard(keyed).cogroup(byShard(table), new Cogroup(numShards),
            erase(Encoders.row(StructType.fromDDL("key long, member boolean"))));
    }

    /* rows keyed by their shard column, read as (int, Row) with no
     * per-row key function; CoGroup requires both sides' keys to have
     * one type, nullability included, hence the coalesce (a shard is
     * never null) */
    private static KeyValueGroupedDataset<Object, Object> byShard(
            Dataset<Object> rows) {
        return rows.groupBy(functions.coalesce(rows.col("shard"),
                                               functions.lit(0)))
            .as(erase(Encoders.INT()), erase(Encoders.row(rows.schema())));
    }

    @SuppressWarnings("unchecked")
    private static Encoder<Object> erase(Encoder<?> e) {
        return (Encoder<Object>) e;
    }

    static final class Cogroup
            implements CoGroupFunction<Object, Object, Object, Object> {
        private static final long serialVersionUID = 1L;
        private final int numShards;

        Cogroup(int numShards) {
            this.numShards = numShards;
        }

        @Override
        public Iterator<Object> call(Object shard, Iterator<Object> keys,
                                     Iterator<Object> rows) {
            if (!keys.hasNext()) {
                return Collections.emptyIterator();
            }
            if (!rows.hasNext()) {      /* shard never built: no members */
                return new Members(keys, Shard.NONE);
            }
            Row row = (Row) rows.next();
            int n = 1;
            while (rows.hasNext()) {
                rows.next();
                n++;
            }
            if (n > 1) {
                /* an arbitrary row could be a stale payload (overlapping
                 * checkpoint appends): from_filter_table refuses it too */
                throw new IllegalArgumentException(
                    "filter table has " + n + " rows for shard " + shard
                    + " (overlapping builds appending to one checkpoint_dir?);"
                    + " deduplicate the table (latest-wins) before probing");
            }
            if (row.getInt(2) != numShards) {
                /* keys were routed by the caller's num_shards: with
                 * another count most members would silently probe False */
                throw new IllegalArgumentException(
                    "num_shards=" + numShards + " but the filter table was"
                    + " built with num_shards=" + row.getInt(2));
            }
            return new Members(keys, Shard.parse(
                (byte[]) row.get(3), row.getString(1)));
        }
    }

    /* a shard's (key, member) rows, one per key row as it is read */
    static final class Members implements Iterator<Object> {
        private final Iterator<Object> keys;
        private final Shard shard;

        Members(Iterator<Object> keys, Shard shard) {
            this.keys = keys;
            this.shard = shard;
        }

        @Override
        public boolean hasNext() {
            return keys.hasNext();
        }

        @Override
        public Object next() {
            long k = ((Row) keys.next()).getLong(0);
            return RowFactory.create(Long.valueOf(k),
                Boolean.valueOf(shard.contain(k)));
        }
    }

    /* ---- one filter, read from its wire bytes ----------------------------- */

    static final class Shard {
        private static final int EMPTY = 0;
        private static final int XOR = 1;
        private static final int FUSE3 = 3;
        private static final int FUSE4 = 4;
        private static final int BLOOM = 5;
        static final Shard NONE = new Shard(EMPTY, 0, 0, 0, 1, null, 0);

        private final int type;
        private final long seed;        /* Bloom: k */
        private final int length;       /* xor blockLength, fuse SegmentLength */
        private final long span;        /* fuse SegmentCountLength, Bloom n_bits */
        private final int width;        /* fingerprint bytes: 1, 2 or 4 */
        private final ByteBuffer bytes; /* the payload, little-endian */
        private final int head;         /* where its cells start */

        private Shard(int type, long seed, int length, long span, int width,
                      ByteBuffer bytes, int head) {
            this.type = type;
            this.seed = seed;
            this.length = length;
            this.span = span;
            this.width = width;
            this.bytes = bytes;
            this.head = head;
        }

        /** The filter of {@code kind} in {@code payload}, little-endian
         *  xor "seed u64 | blockLength u64 | cells", fuse "seed u64 | Size
         *  u32 | SegmentLength, SegmentCount, SegmentCountLength,
         *  ArrayLength u32 | cells" or Bloom "BLM1 | n_bits u64 | k u32 |
         *  bits".  Raises on a fuse layout of neither arity and on bytes
         *  shorter than their header says. */
        static Shard parse(byte[] payload, String kind) {
            boolean bloom = kind.equals("bloom");
            boolean xor = kind.startsWith("xor");
            int head = bloom || xor ? 16 : 28;
            ByteBuffer b = fits(ByteBuffer.wrap(payload)
                .order(ByteOrder.LITTLE_ENDIAN), 0, head);
            if (bloom) {
                long nBits = b.getLong(4);
                return new Shard(BLOOM, b.getInt(12) & MASK32, 0, nBits, 1,
                                 fits(b, head, (nBits + 7) / 8), head);
            }
            int width = Integer.parseInt(kind.substring(xor ? 3 : 4)) / 8;
            if (xor) {
                long bl = b.getLong(8);
                return new Shard(
                    bl == FilterBuild.xorBlockLength(0) ? EMPTY : XOR,
                    b.getLong(0), (int) bl, 0, width,
                    fits(b, head, 3 * bl * width), head);
            }
            long size = b.getInt(8) & MASK32;
            long[] stored = new long[4];
            for (int i = 0; i < 4; i++) {
                stored[i] = b.getInt(12 + 4 * i) & MASK32;
            }
            int arity = Arrays.equals(stored, FilterBuild.fuseLayout(size, 3))
                ? FUSE3
                : Arrays.equals(stored, FilterBuild.fuseLayout(size, 4))
                ? FUSE4 : 0;
            if (arity == 0) {
                throw new IllegalArgumentException(
                    "fuse wire header layout (" + stored[0] + ", "
                    + stored[1] + ", " + stored[2] + ", " + stored[3]
                    + ") matches neither the 3- nor 4-wise allocation"
                    + " formulas for size=" + size
                    + "; corrupt or foreign bytes");
            }
            return new Shard(size == 0 ? EMPTY : arity, b.getLong(0),
                             (int) stored[0], stored[2], width,
                             fits(b, head, stored[3] * width), head);
        }

        /* b, once its n bytes after head are known present */
        private static ByteBuffer fits(ByteBuffer b, int head, long n) {
            if (n < 0 || b.capacity() - head < n) {
                throw new IllegalArgumentException(
                    "filter payload of " + b.capacity() + " bytes is shorter"
                    + " than the " + (head + n) + " its header implies;"
                    + " corrupt or truncated bytes");
            }
            return b;
        }

        boolean contain(long k) {
            if (type == EMPTY) {
                return false;
            }
            if (type == BLOOM) {
                return bloomContains(k);
            }
            long h = murmur64(k + seed);
            int x = (int) (h ^ (h >>> 32));
            if (type == XOR) {
                int bl = length;
                x ^= cell(reduce((int) h, bl))
                    ^ cell(reduce((int) Long.rotateLeft(h, 21), bl) + bl)
                    ^ cell(reduce((int) Long.rotateLeft(h, 42), bl) + 2 * bl);
            } else {
                int sl = length;
                int mask = sl - 1;
                int a = mulhi(h, span);
                if (type == FUSE4) {
                    long oh = murmur64(h);
                    x ^= cell(a)
                        ^ cell((a + sl) ^ ((int) (oh >>> 36) & mask))
                        ^ cell((a + 2 * sl) ^ ((int) (oh >>> 18) & mask))
                        ^ cell((a + 3 * sl) ^ ((int) oh & mask));
                } else {
                    x ^= cell(a)
                        ^ cell((a + sl) ^ ((int) (h >>> 18) & mask))
                        ^ cell((a + 2 * sl) ^ ((int) h & mask));
                }
            }
            int fpMask = width == 4 ? -1 : (1 << (8 * width)) - 1;
            return (x & fpMask) == 0;
        }

        private int cell(int i) {
            switch (width) {
                case 1:
                    return bytes.get(head + i) & 0xFF;
                case 2:
                    return bytes.getShort(head + 2 * i) & 0xFFFF;
                default:
                    return bytes.getInt(head + 4 * i);
            }
        }

        /* sketches.Bloom.contains: bit (h1 + i*h2) mod n_bits for i < k,
         * unsigned, h1 = murmur64(key), h2 = murmur64(key + 1) | 1, bits
         * read LSB-first within each byte */
        private boolean bloomContains(long key) {
            long h1 = murmur64(key);
            long h2 = murmur64(key + 1) | 1;
            for (long i = 0; i < seed; i++) {
                long p = Long.remainderUnsigned(h1 + i * h2, span);
                if ((bytes.get(head + (int) (p >>> 3)) >> (int) (p & 7) & 1) == 0) {
                    return false;
                }
            }
            return true;
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
