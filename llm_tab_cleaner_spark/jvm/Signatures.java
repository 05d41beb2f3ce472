package llm_tab_cleaner_spark.jvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.Comparator;
import java.util.List;
import java.util.zip.Deflater;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;
import org.apache.spark.sql.expressions.Aggregator;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructType;

import scala.Tuple2;
import scala.collection.Iterator;
import scala.collection.Seq;
import scala.jdk.javaapi.CollectionConverters;

/**
 * The dedup text and vector kernels as row-at-a-time Java UDFs: MinHash over
 * byte shingles, SimHash and token n-gram hashes over one whitespace
 * tokenizer ({@link #tokenHashes}), winnowing fingerprints over code points,
 * zlib lengths, and random-hyperplane bucket keys and IVF cells for
 * embedding vectors; plus the two pair-verify kernels, the dot product and
 * the equal-slot count, and the kNN top-k aggregator.
 *
 * <p>Each kernel equals the numpy kernel it replaced bit for bit (those
 * kernels are now the test oracles in {@code tests/signature_oracles.py}).
 * numpy's int64 and uint64 arithmetic wraps, so the hashes here use plain
 * wrapping {@code long} multiplies reduced with floor-mod semantics
 * ({@link #mod61}), never a widening product. The parameters (permutations,
 * planes, centroids) are drawn on the driver and travel inside the UDF.
 *
 * <p>The {@code register*} methods register a text or signature kernel as a
 * nondeterministic session function, as {@link Scorer#register} does:
 * Catalyst does not push a filter through a nondeterministic Project, so a
 * filter on a signature never evaluates the kernel a second time. The
 * pair-verify kernels are registered deterministic, because they sit inside
 * aggregates ({@code avg(sqrt(dot(v, v)))}), which Spark refuses for a
 * nondeterministic expression.
 */
public final class Signatures {
    private static final long MERSENNE = (1L << 61) - 1;
    static final long POLY_P = 1099511628211L;
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
     * Per-token hashes of the UTF-8 bytes, in document order: tokens are the
     * runs between ASCII whitespace bytes (space, tab, LF, VT, FF, CR; UTF-8
     * continuation bytes never match), each hashed to the wrapping
     * polynomial {@code sum(byte_i * P^i)} finished with {@link #fmix64}.
     * The one token-hash format of SimHash and NGrams.
     */
    static long[] tokenHashes(byte[] text) {
        long[] out = new long[(text.length + 1) / 2];
        int tokens = 0;
        boolean inToken = false;
        long h = 0, pow = 1;
        for (byte c : text) {
            int v = c & 0xFF;
            if (v == ' ' || (v >= '\t' && v <= '\r')) {
                if (inToken) {
                    out[tokens++] = fmix64(h);
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
        if (inToken) out[tokens++] = fmix64(h);
        return Arrays.copyOf(out, tokens);
    }

    /** murmur3's 64-bit finalizer. */
    static long fmix64(long h) {
        h ^= h >>> 33;
        h *= FMIX1;
        h ^= h >>> 33;
        h *= FMIX2;
        h ^= h >>> 33;
        return h;
    }

    /**
     * 64-bit SimHash over {@link #tokenHashes}: bit {@code j} of the
     * signature is set when more than half the tokens have it set. A text
     * with no token (NULL, empty, whitespace only) gives 0.
     */
    public static final class SimHash implements UDF1<byte[], Long> {
        private static final long serialVersionUID = 1L;

        @Override
        public Long call(byte[] text) {
            if (text == null) return 0L;
            long[] tokens = tokenHashes(text);
            int[] ones = new int[64];
            for (long h : tokens) {
                for (int j = 0; j < 64; j++) ones[j] += (int) ((h >>> j) & 1);
            }
            long sig = 0;
            for (int j = 0; j < 64; j++) {
                if (2 * ones[j] > tokens.length) sig |= 1L << j;
            }
            return sig;
        }
    }

    /**
     * Token n-gram hashes of the UTF-8 bytes: for each {@code n} in
     * {@code ns}, the gram over tokens {@code i..i+n-1} of
     * {@link #tokenHashes} hashes to {@code fmix64(((h_i * P) + h_i+1) * P +
     * ...)} with wrapping arithmetic. With {@code distinct}, each n's grams
     * are sorted as signed longs and deduplicated; without it they keep
     * document order. The per-n results are concatenated in {@code ns}
     * order. NULL gives an empty array.
     */
    public static final class NGrams implements UDF1<byte[], long[]> {
        private static final long serialVersionUID = 1L;
        private final int[] ns;
        private final boolean distinct;

        public NGrams(int[] ns, boolean distinct) {
            this.ns = ns;
            this.distinct = distinct;
        }

        @Override
        public long[] call(byte[] text) {
            long[] tokens = text == null ? new long[0] : tokenHashes(text);
            int total = 0;
            for (int n : ns) total += Math.max(tokens.length - n + 1, 0);
            long[] out = new long[total];
            int end = 0;
            for (int n : ns) {
                int start = end;
                for (int i = 0; i + n <= tokens.length; i++) {
                    long g = 0;
                    for (int j = 0; j < n; j++) g = g * POLY_P + tokens[i + j];
                    out[end++] = fmix64(g);
                }
                if (distinct) end = sortDistinct(out, start, end);
            }
            return end == total ? out : Arrays.copyOf(out, end);
        }
    }

    /**
     * Winnowing fingerprints (Schleimer et al., SIGMOD 2003) over a text's
     * code points ({@link String#codePoints}, so a character outside the
     * BMP counts once, as in Python {@code str}): gram {@code i} hashes the
     * {@code k} code points from {@code i} as {@code h = (h * 257 + cp) mod
     * 2^31-1}, and every window of {@code w} consecutive grams selects its
     * minimum (the rightmost one on ties; positions are not returned, so the
     * tie-break never changes a value). A text with at most {@code w} grams
     * is one window. Returns the selected hashes sorted and distinct; NULL,
     * or fewer than {@code k} code points, gives an empty array.
     */
    public static final class Winnow implements UDF1<String, long[]> {
        private static final long serialVersionUID = 1L;
        private static final long MOD = (1L << 31) - 1;
        private final int k;
        private final int w;

        public Winnow(int k, int w) {
            this.k = k;
            this.w = w;
        }

        @Override
        public long[] call(String text) {
            int[] cps = text == null ? new int[0] : text.codePoints().toArray();
            if (cps.length < k) return new long[0];
            int n = cps.length - k + 1;
            long[] grams = new long[n];
            for (int i = 0; i < n; i++) {
                long h = 0;
                for (int j = 0; j < k; j++) h = (h * 257 + cps[i + j]) % MOD;
                grams[i] = h;
            }
            int windows = Math.max(n - w + 1, 1);
            long[] mins = new long[windows];
            for (int s = 0; s < windows; s++) {
                long min = Long.MAX_VALUE;
                for (int i = s; i < Math.min(s + w, n); i++) min = Math.min(min, grams[i]);
                mins[s] = min;
            }
            return Arrays.copyOf(mins, sortDistinct(mins, 0, windows));
        }
    }

    /** Length of {@code zlib.compress(text, level)} (a {@link Deflater},
     *  when both link the same zlib); NULL or empty text gives 0. */
    public static final class DeflatedLength implements UDF1<byte[], Long> {
        private static final long serialVersionUID = 1L;
        private final int level;

        public DeflatedLength(int level) {
            this.level = level;
        }

        @Override
        public Long call(byte[] text) {
            if (text == null || text.length == 0) return 0L;
            Deflater deflater = new Deflater(level);
            try {
                deflater.setInput(text);
                deflater.finish();
                byte[] sink = new byte[8192];
                while (!deflater.finished()) deflater.deflate(sink);
                return deflater.getBytesWritten();
            } finally {
                deflater.end();
            }
        }
    }

    /** Sorts {@code a[from, to)} as signed longs and moves its distinct
     *  values to the front; returns the end of the distinct run. */
    private static int sortDistinct(long[] a, int from, int to) {
        Arrays.sort(a, from, to);
        int end = from;
        for (int i = from; i < to; i++) {
            if (i == from || a[i] != a[end - 1]) a[end++] = a[i];
        }
        return end;
    }

    /**
     * Random-hyperplane bucket keys: one int per band, bit {@code j} of
     * band {@code b} set when the vector's {@link #rowDot} with plane
     * {@code b * rows + j} is positive. A vector whose width differs from
     * the planes' raises; a NULL vector gives NULL.
     */
    public static final class Hyperplanes implements UDF1<Seq<Object>, int[]> {
        private static final long serialVersionUID = 1L;
        /** Plane-major: plane p's dim values at {@code [p * dim, (p+1) * dim)}. */
        private final double[] planes;
        private final int dim;
        private final int bands;
        private final int rows;

        public Hyperplanes(double[] planes, int dim, int bands, int rows) {
            this.planes = planes;
            this.dim = dim;
            this.bands = bands;
            this.rows = rows;
        }

        @Override
        public int[] call(Seq<Object> vec) {
            if (vec == null) return null;
            double[] x = vector(vec, dim, "hyperplane buckets");
            int[] keys = new int[bands];
            for (int p = 0; p < bands * rows; p++) {
                if (rowDot(planes, p, x) > 0) keys[p / rows] |= 1 << (p % rows);
            }
            return keys;
        }
    }

    /** IVF cell: the index of the centroid with the largest {@link #rowDot},
     *  the first on ties (as {@code np.argmax}). NULL gives NULL; a vector
     *  whose width differs from the centroids' raises. */
    public static final class NearestCentroid implements UDF1<Seq<Object>, Integer> {
        private static final long serialVersionUID = 1L;
        /** Centroid-major, as {@link Hyperplanes#planes}. */
        private final double[] centroids;
        private final int dim;

        public NearestCentroid(double[] centroids, int dim) {
            this.centroids = centroids;
            this.dim = dim;
        }

        @Override
        public Integer call(Seq<Object> vec) {
            if (vec == null) return null;
            double[] x = vector(vec, dim, "nearest centroid");
            int best = 0;
            double bestDot = rowDot(centroids, 0, x);
            for (int c = 1; c * dim < centroids.length; c++) {
                double dot = rowDot(centroids, c, x);
                if (dot > bestDot) {
                    best = c;
                    bestDot = dot;
                }
            }
            return best;
        }
    }

    /** A vector's elements as doubles; raises when its width is not
     *  {@code dim} or an element is NULL. */
    private static double[] vector(Seq<Object> vec, int dim, String kernel) {
        if (vec.length() != dim) {
            throw new IllegalArgumentException(
                kernel + ": expected vectors of width " + dim + ", got " + vec.length());
        }
        double[] x = new double[dim];
        for (int i = 0; i < dim; i++) {
            Object v = vec.apply(i);
            if (v == null) throw new IllegalArgumentException(kernel + ": NULL vector element");
            x[i] = ((Number) v).doubleValue();
        }
        return x;
    }

    /** Dot of {@code x} with row {@code r} of the row-major matrix {@code m},
     *  as a sequential double sum from 0.0. */
    private static double rowDot(double[] m, int r, double[] x) {
        double dot = 0.0;
        for (int i = 0; i < x.length; i++) dot += x[i] * m[r * x.length + i];
        return dot;
    }

    /**
     * Dot product of two double arrays as the sequential left fold
     * {@code ((0.0 + a0*b0) + a1*b1) + ...}: the operations, in the order, of
     * Spark's {@code aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (s, v) ->
     * s + v)}, so the values are bit-identical to it. NULL on a NULL array, a
     * NULL element or unequal widths; 0.0 on empty arrays.
     */
    public static final class Dot implements UDF2<Seq<Object>, Seq<Object>, Double> {
        private static final long serialVersionUID = 1L;

        @Override
        public Double call(Seq<Object> a, Seq<Object> b) {
            if (a == null || b == null || a.length() != b.length()) return null;
            double acc = 0.0;
            Iterator<Object> ia = a.iterator(), ib = b.iterator();
            while (ia.hasNext()) {
                Object x = ia.next(), y = ib.next();
                if (x == null || y == null) return null;
                acc += ((Number) x).doubleValue() * ((Number) y).doubleValue();
            }
            return acc;
        }
    }

    /**
     * Number of slots where two long arrays hold equal values. NULL on a NULL
     * array, a NULL element or unequal widths; 0 on empty arrays, as
     * {@code aggregate(zip_with(a, b, (x, y) -> int(x == y)), 0, (s, v) -> s + v)}.
     */
    public static final class EqualSlots implements UDF2<Seq<Object>, Seq<Object>, Integer> {
        private static final long serialVersionUID = 1L;

        @Override
        public Integer call(Seq<Object> a, Seq<Object> b) {
            if (a == null || b == null || a.length() != b.length()) return null;
            int equal = 0;
            Iterator<Object> ia = a.iterator(), ib = b.iterator();
            while (ia.hasNext()) {
                Object x = ia.next(), y = ib.next();
                if (x == null || y == null) return null;
                if (((Number) x).longValue() == ((Number) y).longValue()) equal++;
            }
            return equal;
        }
    }

    /** kNN top-k: a group's {@code k} first (nid, cosine) inputs in {@link
     *  #RANK_ORDER}, as {@code struct<top: array<struct<nid, cosine>>>}. Its
     *  buffer holds at most {@code k} rows, which partial aggregation shuffles. */
    public static final class TopK extends Aggregator<Tuple2<Long, Double>, TopK.Best, Row> {
        private static final long serialVersionUID = 1L;
        private final int k;

        public static final class Best extends ArrayList<Tuple2<Long, Double>> {}

        public TopK(int k) {
            this.k = k;
        }

        @Override
        public Best zero() {
            return new Best();
        }

        @Override
        public Best reduce(Best best, Tuple2<Long, Double> row) {
            int at = Collections.binarySearch(best, row, RANK_ORDER);
            if (at < 0) at = -at - 1;
            if (at < k) best.add(at, row);
            if (best.size() > k) best.remove(k);
            return best;
        }

        @Override
        public Best merge(Best a, Best b) {
            for (Tuple2<Long, Double> row : b) reduce(a, row);
            return a;
        }

        @Override
        public Row finish(Best best) {
            List<Row> top = new ArrayList<>();
            for (Tuple2<Long, Double> row : best) top.add(RowFactory.create(row._1(), row._2()));
            return RowFactory.create(CollectionConverters.asScala(top).toSeq());
        }

        @Override
        public Encoder<Best> bufferEncoder() {
            return Encoders.javaSerialization(Best.class);
        }

        @Override
        public Encoder<Row> outputEncoder() {
            return Encoders.row(StructType.fromDDL("top array<struct<nid: bigint, cosine: double>>"));
        }
    }

    /** Spark's {@code ORDER BY cosine DESC, nid ASC} on (nid, cosine): a NULL
     *  cosine last, NaN above every number, -0.0 equal to 0.0; a NULL nid first. */
    private static final Comparator<Tuple2<Long, Double>> RANK_ORDER = Comparator
        .comparing((Tuple2<Long, Double> row) -> row._2(), Comparator.nullsLast(
            (Double a, Double b) -> a.doubleValue() == b.doubleValue() ? 0 : Double.compare(b, a)))
        .thenComparing(Tuple2::_1, Comparator.nullsFirst(Comparator.<Long>naturalOrder()));

    public static void registerMinHash(
            SparkSession spark, String name, byte[] a, byte[] b, int shingleK) {
        register(spark, name, new MinHash(longs(a), longs(b), shingleK),
            DataTypes.createArrayType(DataTypes.LongType));
    }

    public static void registerSimHash(SparkSession spark, String name) {
        register(spark, name, new SimHash(), DataTypes.LongType);
    }

    /** {@code ns}: int32 little-endian n-gram orders. */
    public static void registerNGrams(SparkSession spark, String name, byte[] ns, boolean distinct) {
        int[] orders = new int[ns.length / 4];
        ByteBuffer.wrap(ns).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer().get(orders);
        register(spark, name, new NGrams(orders, distinct),
            DataTypes.createArrayType(DataTypes.LongType));
    }

    public static void registerWinnow(SparkSession spark, String name, int k, int w) {
        register(spark, name, new Winnow(k, w), DataTypes.createArrayType(DataTypes.LongType));
    }

    /** {@code planes}: float64 little-endian, plane-major ((bands*rows) × dim). */
    public static void registerHyperplanes(
            SparkSession spark, String name, byte[] planes, int dim, int bands, int rows) {
        register(spark, name, new Hyperplanes(doubles(planes), dim, bands, rows),
            DataTypes.createArrayType(DataTypes.IntegerType));
    }

    /** {@code centroids}: float64 little-endian, (n × dim) in C order. */
    public static void registerNearestCentroid(
            SparkSession spark, String name, byte[] centroids, int dim) {
        register(spark, name, new NearestCentroid(doubles(centroids), dim), DataTypes.IntegerType);
    }

    public static void registerDeflatedLength(SparkSession spark, String name, int level) {
        register(spark, name, new DeflatedLength(level), DataTypes.LongType);
    }

    public static void registerDot(SparkSession spark, String name) {
        spark.udf().register(name, functions.udf(new Dot(), DataTypes.DoubleType));
    }

    public static void registerEqualSlots(SparkSession spark, String name) {
        spark.udf().register(name, functions.udf(new EqualSlots(), DataTypes.IntegerType));
    }

    public static void registerTopK(SparkSession spark, String name, int k) {
        spark.udf().register(
            name, functions.udaf(new TopK(k), Encoders.tuple(Encoders.LONG(), Encoders.DOUBLE())));
    }

    private static void register(SparkSession spark, String name, UDF1<?, ?> f, DataType type) {
        spark.udf().register(name, functions.udf(f, type).asNondeterministic());
    }

    /** float64 little-endian bytes → double[]. */
    private static double[] doubles(byte[] raw) {
        double[] out = new double[raw.length / 8];
        ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out);
        return out;
    }

    /** int64 little-endian bytes → long[]. */
    private static long[] longs(byte[] raw) {
        long[] out = new long[raw.length / 8];
        ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out);
        return out;
    }
}
