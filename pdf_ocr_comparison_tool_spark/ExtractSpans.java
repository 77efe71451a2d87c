package pdf_ocr_comparison_tool_spark.kernels;

import java.util.Arrays;
import java.util.Locale;
import java.util.regex.Pattern;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.catalyst.expressions.GenericRow;
import org.apache.spark.sql.catalyst.util.CollationSupport;
import org.apache.spark.sql.internal.SQLConf;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * The extraction core (W1 reading-order sort, T6/T7 marker and debug
 * strip, F1/F2 line filters) over one document's spans:
 * array<struct<kind, text, media_ref, offset>> in,
 * array<struct<kind, text, media_ref, order>> out. NULL spans give NULL.
 *
 * Per span: NULL elements are dropped; a NULL text or media_ref counts as
 * ''; a media span's text becomes ''; any other span's text is
 * normalized (markers and bbox literals stripped, then each line trimmed
 * of ASCII spaces and kept when it has at least 2 code points and its
 * lowered form holds no debug literal, kept lines joined by '\n').
 * Non-media spans whose text normalizes to '' are dropped. The rest sort
 * by (offset, kind, media_ref, text), NULLs first and strings in code
 * point order (UTF-8 byte order, as Spark compares strings), and order
 * is the 0-based position in that sort.
 *
 * This is exactly what the built-in chain of transform / filter /
 * array_sort with regexp_replace, split, trim, length, lower and rlike
 * computes; lower is Spark's own, so non-ASCII case mappings agree.
 *
 * Compiled in-session by Janino (see kernels.py), which emits no generic
 * signatures: the class is written against the raw UDF1.
 */
public final class ExtractSpans implements UDF1 {

    // sqlgen.MARKER_RE and sqlgen.BBOX_RE
    private static final Pattern MARKER = Pattern.compile("<\\|[^|]*\\|>");
    private static final Pattern BBOX = Pattern.compile("\\[\\[[0-9, ]*\\]\\]");
    // the alternatives of sqlgen.DEBUG_RE: a find() of that alternation
    // of literals matches exactly where one of them occurs
    private static final String[] DEBUG = {
        "torch.size", "attention", "token", "cache", "setting", "compile",
        "warning", "deprecat", "tensor", "cuda", "device", "dtype",
    };
    // CollationFactory.UTF8_BINARY_COLLATION_ID, the default string type
    private static final int UTF8_BINARY = 0;

    public Object call(Object arg) {
        if (arg == null) {
            return null;
        }
        scala.collection.Seq spans = (scala.collection.Seq) arg;
        int n = spans.length();
        Span[] kept = new Span[n];
        int k = 0;
        int kindAt = -1, textAt = -1, refAt = -1, offsetAt = -1;
        for (int i = 0; i < n; i++) {
            Row s = (Row) spans.apply(i);
            if (s == null) {
                continue;
            }
            if (kindAt < 0) {
                kindAt = s.fieldIndex("kind");
                textAt = s.fieldIndex("text");
                refAt = s.fieldIndex("media_ref");
                offsetAt = s.fieldIndex("offset");
            }
            String kind = (String) s.get(kindAt);
            String ref = (String) s.get(refAt);
            String text = "";
            if (!"media".equals(kind)) {
                String raw = (String) s.get(textAt);
                text = raw == null ? "" : normalize(raw);
                if (text.isEmpty()) {
                    continue;
                }
            }
            kept[k++] = new Span((Integer) s.get(offsetAt), kind, ref == null ? "" : ref, text);
        }
        Arrays.sort(kept, 0, k);
        Object[] out = new Object[k];
        for (int i = 0; i < k; i++) {
            Span s = kept[i];
            out[i] = new GenericRow(new Object[] {s.kind, s.text, s.ref, Integer.valueOf(i)});
        }
        return out;
    }

    static String normalize(String t) {
        // the regexes run only where their opening literal occurs
        if (t.indexOf("<|") >= 0) {
            t = MARKER.matcher(t).replaceAll("");
        }
        if (t.indexOf("[[") >= 0) {
            t = BBOX.matcher(t).replaceAll("");
        }
        StringBuilder out = new StringBuilder(t.length());
        boolean first = true;
        int len = t.length();
        for (int start = 0; start <= len; ) {
            int end = t.indexOf('\n', start);
            if (end < 0) {
                end = len;
            }
            // Spark's trim strips ASCII spaces only
            int a = start;
            int b = end;
            while (a < b && t.charAt(a) == ' ') {
                a++;
            }
            while (b > a && t.charAt(b - 1) == ' ') {
                b--;
            }
            if (b - a >= 2 && t.codePointCount(a, b) >= 2) {
                String line = t.substring(a, b);
                if (!isDebug(lower(line))) {
                    if (!first) {
                        out.append('\n');
                    }
                    out.append(line);
                    first = false;
                }
            }
            start = end + 1;
        }
        return out.toString();
    }

    private static boolean isDebug(String lowered) {
        for (int i = 0; i < DEBUG.length; i++) {
            if (lowered.indexOf(DEBUG[i]) >= 0) {
                return true;
            }
        }
        return false;
    }

    /** Spark's lower(): ASCII maps A-Z alone; anything else goes through
     *  the same case mapping the built-in runs. */
    private static String lower(String s) {
        for (int i = 0; i < s.length(); i++) {
            if (s.charAt(i) >= 128) {
                boolean icu = ((Boolean) SQLConf.get().getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED()))
                    .booleanValue();
                return CollationSupport.Lower.exec(UTF8String.fromString(s), UTF8_BINARY, icu)
                    .toString();
            }
        }
        return s.toLowerCase(Locale.ROOT);
    }

    /** String order by code point, i.e. by UTF-8 bytes. */
    static int compareCodePoints(String a, String b) {
        int n = Math.min(a.length(), b.length());
        for (int i = 0; i < n; i++) {
            int x = a.charAt(i);
            int y = b.charAt(i);
            if (x != y) {
                // UTF-16 puts surrogates (astral code points) below
                // U+E000..U+FFFF; shift both ranges into code point order
                if (x >= 0xD800 && y >= 0xD800) {
                    x = x >= 0xE000 ? x - 0x800 : x + 0x2000;
                    y = y >= 0xE000 ? y - 0x800 : y + 0x2000;
                }
                return x - y;
            }
        }
        return a.length() - b.length();
    }

    private static final class Span implements Comparable {
        final Integer offset;
        final String kind;
        final String ref;
        final String text;

        Span(Integer offset, String kind, String ref, String text) {
            this.offset = offset;
            this.kind = kind;
            this.ref = ref;
            this.text = text;
        }

        public int compareTo(Object other) {
            Span o = (Span) other;
            if (offset == null || o.offset == null) {
                if (offset != o.offset) {
                    return offset == null ? -1 : 1;
                }
            } else if (offset.intValue() != o.offset.intValue()) {
                return offset.intValue() < o.offset.intValue() ? -1 : 1;
            }
            if (kind == null || o.kind == null) {
                if (kind != o.kind) {
                    return kind == null ? -1 : 1;
                }
            } else {
                int c = compareCodePoints(kind, o.kind);
                if (c != 0) {
                    return c;
                }
            }
            int c = compareCodePoints(ref, o.ref);
            return c != 0 ? c : compareCodePoints(text, o.text);
        }
    }
}
