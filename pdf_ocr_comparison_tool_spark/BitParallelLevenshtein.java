package pdf_ocr_comparison_tool_spark.kernels;

import java.util.Arrays;

import org.apache.spark.sql.api.java.UDF2;

/**
 * Code-point Levenshtein distance, bit-parallel: Myers (J. ACM 1999) in
 * Hyyro's multi-block form (2003). Returns exactly what Spark's built-in
 * levenshtein(a, b) returns; NULL in, NULL out.
 *
 * The shorter string is the pattern. Its rows are packed 64 to a word
 * (one block per 64 code points), and each code point of the text
 * advances every block once, carrying the horizontal delta of the block
 * below into the next. The score follows the pattern's last row.
 *
 * Compiled in-session by Janino (see kernels.py), which emits no generic
 * signatures: the class is written against the raw UDF2.
 */
public final class BitParallelLevenshtein implements UDF2 {

    public Object call(Object a, Object b) {
        if (a == null || b == null) {
            return null;
        }
        return Integer.valueOf(distance(a.toString(), b.toString()));
    }

    public static int distance(String x, String y) {
        int[] a = codePoints(x);
        int[] b = codePoints(y);
        if (a.length > b.length) {
            int[] t = a;
            a = b;
            b = t;
        }
        // a common prefix or suffix never changes the distance
        int lo = 0;
        while (lo < a.length && a[lo] == b[lo]) {
            lo++;
        }
        int hiA = a.length;
        int hiB = b.length;
        while (hiA > lo && a[hiA - 1] == b[hiB - 1]) {
            hiA--;
            hiB--;
        }
        int m = hiA - lo;
        int n = hiB - lo;
        if (m == 0) {
            return n;
        }

        // match masks: a flat table for ASCII, sorted keys for the rest
        int blocks = (m + 63) >>> 6;
        long[] ascii = new long[blocks << 7];
        int[] keys = null;
        int nk = 0;
        for (int i = 0; i < m; i++) {
            int c = a[lo + i];
            if (c >= 128) {
                if (keys == null) {
                    keys = new int[m];
                }
                keys[nk++] = c;
            }
        }
        long[] wide = null;
        if (nk > 0) {
            Arrays.sort(keys, 0, nk);
            int u = 1;
            for (int i = 1; i < nk; i++) {
                if (keys[i] != keys[u - 1]) {
                    keys[u++] = keys[i];
                }
            }
            nk = u;
            wide = new long[nk * blocks];
        }
        for (int i = 0; i < m; i++) {
            int c = a[lo + i];
            long bit = 1L << (i & 63);
            if (c < 128) {
                ascii[c * blocks + (i >>> 6)] |= bit;
            } else {
                wide[Arrays.binarySearch(keys, 0, nk, c) * blocks + (i >>> 6)] |= bit;
            }
        }

        long[] pv = new long[blocks];
        long[] mv = new long[blocks];
        Arrays.fill(pv, -1L);
        int last = blocks - 1;
        long lastBit = 1L << ((m - 1) & 63);
        int score = m;
        for (int j = 0; j < n; j++) {
            int c = b[lo + j];
            long[] peq = null;
            int base = 0;
            if (c < 128) {
                peq = ascii;
                base = c * blocks;
            } else if (nk > 0) {
                int k = Arrays.binarySearch(keys, 0, nk, c);
                if (k >= 0) {
                    peq = wide;
                    base = k * blocks;
                }
            }
            // the top row of the DP grows by one per text code point
            int hin = 1;
            for (int r = 0; r < blocks; r++) {
                long eq = peq == null ? 0L : peq[base + r];
                long p = pv[r];
                long q = mv[r];
                long xv = eq | q;
                if (hin < 0) {
                    eq |= 1L;
                }
                long xh = (((eq & p) + p) ^ p) | eq;
                long ph = q | ~(xh | p);
                long mh = p & xh;
                long top = r == last ? lastBit : Long.MIN_VALUE;
                int hout = (ph & top) != 0 ? 1 : ((mh & top) != 0 ? -1 : 0);
                ph <<= 1;
                mh <<= 1;
                if (hin < 0) {
                    mh |= 1L;
                } else if (hin > 0) {
                    ph |= 1L;
                }
                pv[r] = mh | ~(xv | ph);
                mv[r] = ph & xv;
                hin = hout;
            }
            score += hin;
        }
        return score;
    }

    private static int[] codePoints(String s) {
        int len = s.length();
        int[] out = new int[len];
        int k = 0;
        for (int i = 0; i < len; ) {
            int c = s.codePointAt(i);
            out[k++] = c;
            i += Character.charCount(c);
        }
        return k == len ? out : Arrays.copyOf(out, k);
    }
}
