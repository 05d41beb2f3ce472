package llm_tab_cleaner_spark.jvm;

import java.util.List;
import java.util.Locale;
import java.util.regex.Pattern;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.StructType;

/**
 * The PII / secret / toxicity scrub of {@code functions/pii.py} as one Java
 * UDF ({@code pii.scrub_kernel} states its contract). A family's pattern is
 * searched only when the lower-cased text holds one of its gate literals
 * (null gates: always); on any match every family's {@code replaceAll} runs
 * in table order: the {@code java.util.regex} calls of Spark's {@code rlike}
 * and {@code regexp_replace}.
 */
public final class Scrub implements UDF1<String, Row> {
    private static final long serialVersionUID = 1L;
    private static final String[] NONE = new String[0];

    private final String[] names;
    private final String[] replacements;
    private final Pattern[] patterns;
    private final String[][] gates;

    private Scrub(List<String> names, List<String> patterns, List<String> replacements,
            List<List<String>> gates) {
        this.names = names.toArray(NONE);
        this.replacements = replacements.toArray(NONE);
        this.patterns = patterns.stream().map(Pattern::compile).toArray(Pattern[]::new);
        this.gates = gates.stream().map(g -> g == null ? null : g.toArray(NONE))
            .toArray(String[][]::new);
    }

    /** Registers a Scrub as a nondeterministic session function, like {@link Scorer}. */
    public static void register(
            SparkSession spark, String name, String schemaDdl, List<String> names,
            List<String> patterns, List<String> replacements, List<List<String>> gates) {
        Scrub scrub = new Scrub(names, patterns, replacements, gates);
        spark.udf().register(
            name, functions.udf(scrub, StructType.fromDDL(schemaDdl)).asNondeterministic());
    }

    @Override
    public Row call(String text) {
        if (text == null) return RowFactory.create(null, null, NONE);
        String lower = text.toLowerCase(Locale.ROOT);
        String[] hits = null;
        for (int i = 0; i < patterns.length; i++) {
            if (gated(lower, gates[i]) && patterns[i].matcher(text).find()) {
                if (hits == null) hits = new String[patterns.length];
                hits[i] = names[i];
            }
        }
        if (hits == null) return RowFactory.create(false, null, NONE);
        String out = text;
        for (int i = 0; i < patterns.length; i++) {
            out = patterns[i].matcher(out).replaceAll(replacements[i]);
        }
        return RowFactory.create(true, out, hits);
    }

    private static boolean gated(String lower, String[] literals) {
        if (literals == null) return true;
        for (String g : literals) {
            if (lower.contains(g)) return true;
        }
        return false;
    }
}
