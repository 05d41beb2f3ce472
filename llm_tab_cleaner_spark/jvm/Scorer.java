package llm_tab_cleaner_spark.jvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.nio.charset.StandardCharsets;
import java.util.Arrays;
import java.util.List;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.StructType;

/**
 * The quality-filter scorer as one Java UDF: UTF-8 bytes in, the
 * {@code SCORE_SCHEMA} struct out (lang_pred, lang_margin, ppl_bits,
 * n_tokens, n_distinct_tokens, unique_token_ratio, alnum_ratio, is_nullish).
 *
 * <p>A row-at-a-time port of {@code ScoringModel.score_batch}, the numpy
 * reference kernel in {@code functions/scoring.py}; every field equals it
 * exactly. The numpy kernel is vectorized across a batch but every score is
 * row-local, so the per-row loops here compute the same sums in the same
 * order: token hashes are the same wrapping 64-bit polynomial + fmix64
 * truncated to 52 bits, and table values are float32 widened to double and
 * summed sequentially in window order (what {@code np.bincount} does).
 *
 * <p>Register it with {@link #register} as a nondeterministic UDF: that
 * keeps it a single Project below any filter on its outputs (Catalyst does
 * not push a predicate through a nondeterministic Project, so the scorer is
 * not re-evaluated inside a pushed-down {@code keep} filter).
 */
public final class Scorer implements UDF1<byte[], Row> {
    private static final long serialVersionUID = 1L;

    private static final int B_LANG = 4096;
    private static final int B_PPL = 1 << 15;
    private static final long POLY_P = 1099511628211L;
    private static final long FMIX1 = 0xFF51AFD7ED558CCDL;
    private static final long FMIX2 = 0xC4CEB9FE1A85EC53L;
    /** Fewer sampled langid trigrams than this → no confident call. */
    private static final int MIN_LANG_TRIGRAMS = 8;

    /** Byte classes: 1 = ASCII alnum, 2 = ASCII whitespace (the Java \s
     *  set), 3 = UTF-8 continuation byte (0x80-0xBF), 0 = other. */
    private static final byte[] CLS = new byte[256];

    static {
        for (int b = '0'; b <= '9'; b++) CLS[b] = 1;
        for (int b = 'a'; b <= 'z'; b++) CLS[b] = 1;
        for (int b = 'A'; b <= 'Z'; b++) CLS[b] = 1;
        for (char b : new char[] {' ', '\t', '\n', 0x0b, '\f', '\r'}) CLS[b] = 2;
        for (int b = 0x80; b < 0xC0; b++) CLS[b] = 3;
    }

    /**
     * Partner lane and max-lane mask of each step of the 8-lane bitonic
     * network numpy's AVX-512 argsort (x86-simd-sort) uses for arrays of at
     * most 8 elements. Replaying it reproduces numpy's order of tied logits,
     * which decides {@code lang_pred} when the top two tie.
     */
    private static final int[][] NET_PARTNER = {
        {1, 0, 3, 2, 5, 4, 7, 6},
        {3, 2, 1, 0, 7, 6, 5, 4},
        {1, 0, 3, 2, 5, 4, 7, 6},
        {7, 6, 5, 4, 3, 2, 1, 0},
        {2, 3, 0, 1, 6, 7, 4, 5},
        {1, 0, 3, 2, 5, 4, 7, 6},
    };
    private static final int[] NET_MAX_MASK = {0xAA, 0xCC, 0xAA, 0xF0, 0xCC, 0xAA};

    private final String[] languages;
    private final int nLang;
    /** log P(bucket | lang), bucket-major: {@code [bucket * nLang + lang]}. */
    private final float[] langLogprob;
    /** -log2 P(bucket) over B_PPL buckets. */
    private final float[] pplBits;
    private final byte[][] nullish;
    private final int nullishMaxBytes;

    /**
     * @param languages   language labels, in the model's order
     * @param nullish     the null-ish tokens (ASCII, lower case)
     * @param langLogprob float32 little-endian, language-major (L × 4096)
     * @param pplBits     float32 little-endian (32768)
     */
    public Scorer(
            List<String> languages, List<String> nullish, byte[] langLogprob, byte[] pplBits) {
        this.languages = languages.toArray(new String[0]);
        this.nLang = this.languages.length;
        if (nLang < 2 || nLang > 8) {
            // numpy sorts up to 8 logits with the network argsort() replays
            throw new IllegalArgumentException("the scorer takes 2 to 8 languages, got " + nLang);
        }
        float[] byLang = floats(langLogprob, nLang * B_LANG);
        this.langLogprob = new float[byLang.length];
        for (int li = 0; li < nLang; li++) {
            for (int b = 0; b < B_LANG; b++) {
                this.langLogprob[b * nLang + li] = byLang[li * B_LANG + b];
            }
        }
        this.pplBits = floats(pplBits, B_PPL);
        this.nullish = new byte[nullish.size()][];
        int maxBytes = 0;
        for (int i = 0; i < nullish.size(); i++) {
            this.nullish[i] = nullish.get(i).getBytes(StandardCharsets.US_ASCII);
            maxBytes = Math.max(maxBytes, this.nullish[i].length);
        }
        this.nullishMaxBytes = maxBytes;
    }

    private static float[] floats(byte[] raw, int expected) {
        if (raw.length != 4 * expected) {
            throw new IllegalArgumentException(
                "expected " + expected + " float32 values, got " + raw.length + " bytes");
        }
        float[] out = new float[expected];
        ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(out);
        return out;
    }

    /**
     * Registers a Scorer as the nondeterministic session function
     * {@code name} returning the struct {@code schemaDdl}. The tables travel
     * inside the UDF instance, so every task that runs the plan has them.
     */
    public static void register(
            SparkSession spark, String name, String schemaDdl, List<String> languages,
            List<String> nullish, byte[] langLogprob, byte[] pplBits) {
        Scorer scorer = new Scorer(languages, nullish, langLogprob, pplBits);
        spark.udf().register(
            name, functions.udf(scorer, StructType.fromDDL(schemaDdl)).asNondeterministic());
    }

    /** NULL scores as the empty string. */
    @Override
    public Row call(byte[] text) {
        byte[] b = text == null ? new byte[0] : text;
        int n = b.length;

        // text stats: byte classes, whitespace tokens and their hashes
        int alnum = 0, ws = 0, cont = 0, nt = 0;
        long[] hashes = new long[(n + 1) / 2];
        boolean inToken = false;
        long h = 0, pow = 1;
        for (int i = 0; i < n; i++) {
            int v = b[i] & 0xFF;
            byte c = CLS[v];
            if (c == 2) {
                ws++;
                if (inToken) {
                    hashes[nt++] = finish(h);
                    inToken = false;
                }
                continue;
            }
            if (c == 1) alnum++;
            else if (c == 3) cont++;
            if (!inToken) {
                inToken = true;
                h = 0;
                pow = 1;
            }
            h += v * pow;
            pow *= POLY_P;
        }
        if (inToken) hashes[nt++] = finish(h);
        Arrays.sort(hashes, 0, nt);
        int nd = nt > 0 ? 1 : 0;
        for (int i = 1; i < nt; i++) {
            if (hashes[i] != hashes[i - 1]) nd++;
        }
        double uniq = nt > 0 ? (double) nd / nt : 1.0;
        int nonspace = n - cont - ws;
        double alnumRatio = nonspace > 0 ? (double) alnum / nonspace : 1.0;
        boolean isNullish = n - ws <= nullishMaxBytes && isNullishToken(b);

        // trigram heads: ppl over windows at even row offsets, langid over
        // windows at offsets divisible by 3
        String lang = null;
        double margin = 0.0, bits = 0.0;
        if (n >= 3) {
            double bitSum = 0.0;
            int pplWindows = 0;
            for (int i = 0; i + 2 < n; i += 2) {
                bitSum += pplBits[bucket(b, i)];
                pplWindows++;
            }
            bits = bitSum / pplWindows;

            double[] logits = new double[nLang];
            int triCount = 0;
            for (int i = 0; i + 2 < n; i += 3) {
                int base = (bucket(b, i) & (B_LANG - 1)) * nLang;
                for (int li = 0; li < nLang; li++) {
                    logits[li] += langLogprob[base + li];
                }
                triCount++;
            }
            if (triCount >= MIN_LANG_TRIGRAMS) {
                int[] order = argsort(logits);
                int top1 = order[nLang - 1];
                int top2 = order[nLang - 2];
                lang = languages[top1];
                margin = (logits[top1] - logits[top2]) / triCount;
            }
        }
        return RowFactory.create(lang, margin, bits, nt, nd, uniq, alnumRatio, isNullish);
    }

    private static int bucket(byte[] b, int i) {
        return ((b[i] & 0xFF) * 961 + (b[i + 1] & 0xFF) * 31 + (b[i + 2] & 0xFF)) & (B_PPL - 1);
    }

    /** fmix64 finalizer, truncated to the 52 bits the reference compares. */
    private static long finish(long h) {
        h ^= h >>> 33;
        h *= FMIX1;
        h ^= h >>> 33;
        h *= FMIX2;
        h ^= h >>> 33;
        return h >>> 12;
    }

    /** ASCII-whitespace-stripped, ASCII-lower-cased text is a nullish token. */
    private boolean isNullishToken(byte[] b) {
        int lo = 0, hi = b.length;
        while (lo < hi && CLS[b[lo] & 0xFF] == 2) lo++;
        while (hi > lo && CLS[b[hi - 1] & 0xFF] == 2) hi--;
        int len = hi - lo;
        outer:
        for (byte[] tok : nullish) {
            if (tok.length != len) continue;
            for (int i = 0; i < len; i++) {
                int v = b[lo + i];
                if (v >= 'A' && v <= 'Z') v += 'a' - 'A';
                if (v != tok[i]) continue outer;
            }
            return true;
        }
        return false;
    }

    /**
     * Ascending argsort of at most 8 values in numpy's order: the AVX-512
     * bitonic network (a lane keeps its own index whenever its result equals
     * its own value, so ties never swap; the padding lanes hold +inf).
     * Without AVX-512, numpy's argsort is stable instead; the two differ
     * only in the order of exactly equal logits.
     */
    private static int[] argsort(double[] v) {
        int n = v.length;
        double[] key = new double[8];
        int[] arg = new int[8];
        for (int i = 0; i < 8; i++) {
            key[i] = i < n ? v[i] : Double.POSITIVE_INFINITY;
            arg[i] = i < n ? i : 0;
        }
        double[] nk = new double[8];
        int[] na = new int[8];
        for (int s = 0; s < NET_PARTNER.length; s++) {
            int[] partner = NET_PARTNER[s];
            int mask = NET_MAX_MASK[s];
            for (int i = 0; i < 8; i++) {
                double own = key[i], other = key[partner[i]];
                double r = ((mask >> i) & 1) != 0 ? Math.max(own, other) : Math.min(own, other);
                nk[i] = r;
                na[i] = r == own ? arg[i] : arg[partner[i]];
            }
            System.arraycopy(nk, 0, key, 0, 8);
            System.arraycopy(na, 0, arg, 0, 8);
        }
        return Arrays.copyOf(arg, n);
    }
}
