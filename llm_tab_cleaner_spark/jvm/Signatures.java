package llm_tab_cleaner_spark.jvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;

import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;

import scala.collection.Seq;

/**
 * The near-duplicate signature kernels as row-at-a-time Java UDFs: MinHash
 * over byte shingles, SimHash over whitespace tokens, and random-hyperplane
 * bucket keys for embedding vectors.
 *
 * <p>Each kernel equals the numpy kernel it replaced bit for bit (those
 * kernels are now the test oracles in {@code tests/signature_oracles.py}).
 * numpy's int64 and uint64 arithmetic wraps, so the hashes here use plain
 * wrapping {@code long} multiplies reduced with floor-mod semantics
 * ({@link #mod61}), never a widening product. The parameters (permutations,
 * plane matrix) are drawn on the driver and travel inside the UDF instance.
 *
 * <p>The {@code register*} methods register a kernel as a nondeterministic
 * session function, as {@link Scorer#register} does: Catalyst does not push
 * a filter through a nondeterministic Project, so a filter on a signature
 * never evaluates the kernel a second time.
 */
public final class Signatures {
    private static final long MERSENNE = (1L << 61) - 1;
    private static final long POLY_P = 1099511628211L;
    private static final long FMIX1 = 0xFF51AFD7ED558CCDL;
    private static final long FMIX2 = 0xC4CEB9FE1A85EC53L;

    private Signatures() {}

    /**
     * MinHash of a text's UTF-8 bytes: shingle hashes over every
     * {@code k}-byte window ({@code h = (h * 257 + byte) mod 2^61-1}), then
     * per permutation {@code j} the minimum of {@code (s * a[j] + b[j]) mod
     * 2^61-1}. NULL when there is no shingle (NULL, or fewer than {@code k}
     * bytes).
     */
    public static final class MinHash implements UDF1<byte[], long[]> {
        private static final long serialVersionUID = 1L;
        private final long[] a;
        private final long[] b;
        private final int k;

        public MinHash(long[] a, long[] b, int k) {
            this.a = a;
            this.b = b;
            this.k = k;
        }

        @Override
        public long[] call(byte[] text) {
            if (text == null || text.length < k) return null;
            int n = text.length - k + 1;
            long[] shingles = new long[n];
            for (int i = 0; i < n; i++) {
                long h = 0;
                for (int j = 0; j < k; j++) {
                    h = mod61(h * 257 + (text[i + j] & 0xFF));
                }
                shingles[i] = h;
            }
            long[] sig = new long[a.length];
            for (int j = 0; j < a.length; j++) {
                long aj = a[j], bj = b[j], min = Long.MAX_VALUE;
                for (long s : shingles) {
                    long v = mod61(s * aj + bj);
                    if (v < min) min = v;
                }
                sig[j] = min;
            }
            return sig;
        }
    }

    /**
     * {@code Math.floorMod(x, 2^61-1)} for every long {@code x}, without a
     * division: {@code x = hi * 2^61 + lo} with {@code hi = x >> 61} in
     * [-4, 3] and {@code 2^61 ≡ 1}, so {@code x ≡ lo + hi}, which lies in
     * [-4, 2^61+2] and needs at most one correction.
     */
    static long mod61(long x) {
        long r = (x & MERSENNE) + (x >> 61);
        if (r >= MERSENNE) return r - MERSENNE;
        return r < 0 ? r + MERSENNE : r;
    }

    /**
     * 64-bit SimHash over ASCII-whitespace-separated tokens of the UTF-8
     * bytes: each token hashes to the wrapping polynomial
     * {@code sum(byte_i * P^i)} finished with fmix64, and bit {@code j} of
     * the signature is set when more than half the tokens have it set. A
     * text with no token (NULL, empty, whitespace only) gives 0.
     */
    public static final class SimHash implements UDF1<byte[], Long> {
        private static final long serialVersionUID = 1L;

        @Override
        public Long call(byte[] text) {
            if (text == null) return 0L;
            int[] ones = new int[64];
            int tokens = 0;
            boolean inToken = false;
            long h = 0, pow = 1;
            for (byte c : text) {
                int v = c & 0xFF;
                if (v == ' ' || (v >= '\t' && v <= '\r')) {
                    if (inToken) {
                        vote(ones, fmix64(h));
                        tokens++;
                        inToken = false;
                    }
                    continue;
                }
                if (!inToken) {
                    inToken = true;
                    h = 0;
                    pow = 1;
                }
                h += v * pow;
                pow *= POLY_P;
            }
            if (inToken) {
                vote(ones, fmix64(h));
                tokens++;
            }
            long sig = 0;
            for (int j = 0; j < 64; j++) {
                if (2 * ones[j] > tokens) sig |= 1L << j;
            }
            return sig;
        }

        private static void vote(int[] ones, long h) {
            for (int j = 0; j < 64; j++) ones[j] += (int) ((h >>> j) & 1);
        }

        private static long fmix64(long h) {
            h ^= h >>> 33;
            h *= FMIX1;
            h ^= h >>> 33;
            h *= FMIX2;
            h ^= h >>> 33;
            return h;
        }
    }

    /**
     * Random-hyperplane bucket keys: one int per band, bit {@code j} of
     * band {@code b} set when the vector's dot with plane
     * {@code b * rows + j} is positive. Each dot is a sequential double sum
     * over the float32 plane values. A vector whose width differs from the
     * planes' raises; a NULL vector gives NULL.
     */
    public static final class Hyperplanes implements UDF1<Seq<Object>, int[]> {
        private static final long serialVersionUID = 1L;
        /** Plane-major: plane p's dim values at {@code [p * dim, (p+1) * dim)},
         *  float32 widened to double. */
        private final double[] planes;
        private final int dim;
        private final int bands;
        private final int rows;

        /** @param planes (dim × bands*rows) in C order, as numpy draws them */
        public Hyperplanes(float[] planes, int dim, int bands, int rows) {
            int total = bands * rows;
            if (planes.length != dim * total) {
                throw new IllegalArgumentException(
                    "hyperplanes: expected " + dim * total + " plane values, got "
                    + planes.length);
            }
            this.planes = new double[planes.length];
            for (int i = 0; i < dim; i++) {
                for (int p = 0; p < total; p++) this.planes[p * dim + i] = planes[i * total + p];
            }
            this.dim = dim;
            this.bands = bands;
            this.rows = rows;
        }

        @Override
        public int[] call(Seq<Object> vec) {
            if (vec == null) return null;
            if (vec.length() != dim) {
                throw new IllegalArgumentException(
                    "hyperplane buckets: expected vectors of width " + dim + ", got "
                    + vec.length());
            }
            double[] x = new double[dim];
            for (int i = 0; i < dim; i++) {
                Object v = vec.apply(i);
                if (v == null) {
                    throw new IllegalArgumentException("hyperplane buckets: NULL vector element");
                }
                x[i] = ((Number) v).doubleValue();
            }
            int total = bands * rows;
            int[] keys = new int[bands];
            for (int p = 0; p < total; p++) {
                double dot = 0.0;
                for (int i = 0; i < dim; i++) dot += x[i] * planes[p * dim + i];
                if (dot > 0) keys[p / rows] |= 1 << (p % rows);
            }
            return keys;
        }
    }

    public static void registerMinHash(
            SparkSession spark, String name, byte[] a, byte[] b, int shingleK) {
        register(spark, name, new MinHash(longs(a), longs(b), shingleK),
            DataTypes.createArrayType(DataTypes.LongType));
    }

    public static void registerSimHash(SparkSession spark, String name) {
        register(spark, name, new SimHash(), DataTypes.LongType);
    }

    /** {@code planes}: float32 little-endian, (dim × bands*rows) in C order. */
    public static void registerHyperplanes(
            SparkSession spark, String name, byte[] planes, int dim, int bands, int rows) {
        float[] p = new float[planes.length / 4];
        ByteBuffer.wrap(planes).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(p);
        register(spark, name, new Hyperplanes(p, dim, bands, rows),
            DataTypes.createArrayType(DataTypes.IntegerType));
    }

    private static void register(SparkSession spark, String name, UDF1<?, ?> f, DataType type) {
        spark.udf().register(name, functions.udf(f, type).asNondeterministic());
    }

    /** int64 little-endian bytes → long[]. */
    private static long[] longs(byte[] raw) {
        long[] out = new long[raw.length / 8];
        ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out);
        return out;
    }
}
