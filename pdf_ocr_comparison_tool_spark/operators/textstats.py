"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

All built-in column expressions (regex/length arithmetic + broadcast
stopword dim + window argmax) — no Python in the hot path, trivially
parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize, release
from .dedup import TOKEN_RE, tokens_col

# (lang, stopword) heuristic dim — deliberately tiny; argmax with 'und'
# fallback mirrors the classifier shape (A11) applied to language ID.
LANG_STOPWORDS: list[tuple[str, str]] = [
    ("en", "the"), ("en", "and"), ("en", "of"), ("en", "is"),
    ("de", "der"), ("de", "und"), ("de", "die"), ("de", "ist"),
    ("es", "el"), ("es", "la"), ("es", "de"), ("es", "es"),
    ("fr", "le"), ("fr", "la"), ("fr", "et"), ("fr", "est"),
]
UND = "und"

QUALITY_STOPWORDS = ["the", "and", "of", "a", "is"]


def lang_dim(spark) -> DataFrame:
    return spark.createDataFrame(LANG_STOPWORDS, "lang string, stopword string")


def lang_id(docs: DataFrame, dim: DataFrame) -> DataFrame:
    """N-gram-free stopword-vote language ID: explode tokens, join the
    stopword dim, argmax hits per doc (tiebreak lang asc), und fallback."""
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    hits = (
        toks.join(F.broadcast(dim), toks.token == dim.stopword)
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_hits"))
    )
    # argmax via min_by on (−n_hits, lang) — the (n_hits desc, lang
    # asc) window's first row, map-side combinable, no per-doc sort
    best = (
        hits.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct(F.col("lang"), F.col("n_hits")),
                F.struct((-F.col("n_hits")).alias("nh"), F.col("lang")),
            ).alias("b")
        )
        .select(
            "doc_id",
            F.col("b.lang").alias("pred"),
            F.col("b.n_hits").alias("n_hits"),
        )
    )
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pred", F.lit(UND)).alias("pred_lang"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )


def lang_agreement(docs: DataFrame, dim: DataFrame) -> DataFrame:
    """Language-ID CONFUSION vs the corpus's declared labels: cross the
    stopword-vote prediction with the driver ``lang`` column — the
    calibration table that decides whether the cheap detector can
    replace (or must defer to) upstream metadata per language. Tiny
    aggregate over the lang_id output + a 1-row totals broadcast."""
    pred = lang_id(docs, dim).select("doc_id", "pred_lang")
    lab = docs.select("doc_id", F.col("lang").alias("label_lang"))
    cells = (
        lab.join(pred, "doc_id")
        .groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = cells.agg(F.sum("n_docs").alias("n_total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "label_lang",
        "pred_lang",
        "n_docs",
        (F.col("label_lang") == F.col("pred_lang")).alias("agree"),
        (F.col("n_docs").cast("double") / F.col("n_total").cast("double")
         ).alias("share"),
    )


def quality_exprs(text) -> dict:
    """The quality-heuristic expressions as a dict of Columns — shared
    by :func:`text_quality` (batch, oracled) and the streaming
    admission twin (streaming.stateful.streaming_corpus_filter), which
    needs all signal families in ONE narrow projection (a stream can't
    join two derivations of itself without watermark machinery)."""
    n_chars = F.length(text)
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_alnum_sp = F.length(F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", ""))
    punct_ratio = (
        (n_chars - n_alnum_sp).cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    )
    n_digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    digit_ratio = n_digits.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*QUALITY_STOPWORDS)))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    band = (
        F.when((n_tokens >= 20) & (punct_ratio < 0.1) & (stop_ratio >= 0.05), "high")
        .when(n_tokens >= 5, "medium")
        .otherwise("low")
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stop_ratio": stop_ratio,
        "quality": band,
    }


def text_quality(docs: DataFrame) -> DataFrame:
    """Length/punctuation/digit/stopword quality heuristics with a CASE
    band — the standard pre-training quality-filter features."""
    e = quality_exprs(F.col("text"))
    return docs.select(
        "doc_id",
        e["n_chars"].cast("long").alias("n_chars"),
        e["n_tokens"].cast("long").alias("n_tokens"),
        e["punct_ratio"].alias("punct_ratio"),
        e["digit_ratio"].alias("digit_ratio"),
        e["stop_ratio"].alias("stop_ratio"),
        e["quality"].alias("quality"),
    )


def text_repetition(docs: DataFrame) -> DataFrame:
    """Gopher/C4-style repetition signals (Rae et al. 2021, §A1 filter
    suite) — the standard boilerplate/repetition pre-training filters:

    * ``top_1gram_char_frac`` / ``top_2gram_char_frac`` — fraction of
      token characters covered by the most frequent token / word
      2-gram (ties → lexicographically smallest gram; overlapping
      2-gram occurrences share tokens, so the 2-gram fraction can
      exceed 1.0 on degenerate "b b b" runs — kept as-defined);
    * ``dup_3gram_frac`` — fraction of 3-gram occurrences that are
      duplicates of another occurrence.

    All narrow array/HOF expressions over the shared tokenizer
    (tokens_col): positional grams via shifted zips; the argmax is ONE
    array_sort + ONE fold per gram order, with the fraction computed in
    the fold's finish lambda so every expensive array is the input of
    exactly one HOF (Spark HOFs are interpreted and re-evaluate any
    derived array referenced more than once — the run-length-entries
    form of this operator measured ~4× slower). Shuffle-free per
    document; fractions are int/int divisions, so values are
    bit-identical cross-engine.

    A/B vs the relational argmax (explode tagged grams → groupBy(doc,
    n, gram) count → struct-min argmax → join back), sf0.1 local[32],
    value-identical (0 diff rows): with the non-splittable-input
    rebalance in ``synth.load_table`` giving the narrow stage full
    parallelism, the fold runs ~0.9–1.2 s vs ~1.3–1.6 s relational —
    the per-doc gram shuffle costs more than the interpreted fold. The
    round-4 8.6 s driver reading was the single-partition scan
    serializing the fold onto one core (now fixed at the loader), not
    the fold itself. Keeping the narrow fold: it also scales without
    the gram-row shuffle volume (~2× token count per doc) at 100 TB.
    """
    e = repetition_exprs(F.col("text"))
    return docs.select(
        "doc_id",
        e["n_tokens"].cast("long").alias("n_tokens"),
        e["top_1gram_char_frac"].alias("top_1gram_char_frac"),
        e["top_2gram_char_frac"].alias("top_2gram_char_frac"),
        e["dup_3gram_frac"].alias("dup_3gram_frac"),
    )


def repetition_exprs(text) -> dict:
    """The repetition-signal expressions as a dict of Columns (see
    :func:`text_repetition`; shared with the streaming admission
    twin)."""
    t = tokens_col(text)
    n = F.size(t)
    s1 = F.slice(t, 2, F.greatest(n - 1, F.lit(0)))
    s2 = F.slice(t, 3, F.greatest(n - 2, F.lit(0)))
    g2p = F.zip_with(
        t, s1, lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b))
    )
    g2 = F.filter(g2p, lambda x: x.isNotNull())
    g3 = F.filter(
        F.zip_with(
            g2p, s2,
            lambda ab, c: F.when(
                ab.isNotNull() & c.isNotNull(), F.concat(ab, F.lit(" "), c)
            ),
        ),
        lambda x: x.isNotNull(),
    )
    total_chars = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )

    def top_gram_frac(arr, nsep: int) -> "F.Column":
        """count(top gram) · chars(top gram) / total token chars, in one
        sort + one fold: runs are contiguous in the sorted array, the
        fold tracks (current run, best count, best gram); a strict >
        update keeps the lexicographically smallest gram on count ties
        (first-in-sorted-order)."""
        s = F.array_sort(arr)
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("bc"),
            F.lit("").alias("bg"),
        )

        def step(acc, x):
            run = F.when(
                acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1
            ).otherwise(F.lit(1).cast("long"))
            better = run > acc["bc"]
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.when(better, run).otherwise(acc["bc"]).alias("bc"),
                F.when(better, x).otherwise(acc["bg"]).alias("bg"),
            )

        def fin(acc):
            chars = (F.length(acc["bg"]) - F.lit(nsep)).cast("long")
            return F.when(acc["bc"] == 0, F.lit(0.0)).otherwise(
                (acc["bc"] * chars).cast("double") / total_chars.cast("double")
            )

        return F.aggregate(s, init, step, fin)

    n3, d3 = F.size(g3), F.size(F.array_distinct(g3))
    dup3 = F.when(n3 == 0, F.lit(0.0)).otherwise(
        (n3 - d3).cast("double") / n3.cast("double")
    )
    return {
        "n_tokens": n,
        "top_1gram_char_frac": top_gram_frac(t, 0),
        "top_2gram_char_frac": top_gram_frac(g2, 1),
        "dup_3gram_frac": dup3,
    }


NGRAM_N = 3
NGRAM_TOP = 100


def ngram_counts(docs: DataFrame) -> DataFrame:
    """Corpus-wide word ``NGRAM_N``-gram count table top-``NGRAM_TOP``
    — the artifact a KenLM-style LM quality filter (CCNet / Gopher
    pipelines) trains from: per n-gram its total occurrence count and
    distinct-doc count.

    Shape: positional n-grams via the shared shifted-zip builder
    (narrow), exploded to rows, groupBy(gram) with map-side combine —
    a boilerplate gram repeated on 10^9 pages partial-aggregates before
    the shuffle — and top-N via orderBy+limit (TakeOrderedAndProject:
    parallel partial top-N, never an unpartitioned window over the
    whole vocabulary). Ties rank by gram text ascending."""
    from pyspark.sql import Window

    from .dedup import _ngrams_col, tokens_col

    grams = docs.select(
        "doc_id",
        F.explode(_ngrams_col(tokens_col(F.col("text")), NGRAM_N)).alias("gram"),
    )
    counts = grams.groupBy("gram").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    t = counts.orderBy(F.desc("n_occ"), F.asc("gram")).limit(NGRAM_TOP)
    w = Window.orderBy(F.desc("n_occ"), F.asc("gram"))
    return t.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "gram",
        F.col("n_occ").cast("long").alias("n_occ"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


HASH_EMBED_DIM = 16  # fixed vector width (power of 2: sign bits are
#                      the bits ABOVE the bucket bits — independent)


def hash_embed(docs: DataFrame) -> DataFrame:
    """Feature-hashing vectorizer (the "hashing trick", Weinberger et
    al. ICML'09, public): every token occurrence hashes into one of
    ``HASH_EMBED_DIM`` buckets with a ±1 sign bit; per-document signed bucket
    sums are L2-normalized. A fixed-width, vocabulary-free document
    embedding built entirely from relational ops — the cheap-embedding
    path for clustering/dedup when no model embedding exists. Output
    is sparse rows (doc_id, dim, val, weight); zero-sum buckets are
    dropped, so norm > 0 on every emitted row by construction.

    Scale shape: explode tokens → groupBy (doc, dim) signed count
    (map-side combinable; fan-in per doc ≤ HASH_EMBED_DIM) → per-doc norm groupBy
    + equi-join back. Bucket sums are exact BIGINTs; norm/weight are
    the same double ops on both engine sides (sqrt + one division) so
    values cross the oracle boundary bit-equal."""
    from .pipeline import pack_tape_hash

    t = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    h = t.select("doc_id", pack_tape_hash(F.col("tok")).alias("h"))
    rows = h.select(
        "doc_id",
        (F.col("h") % HASH_EMBED_DIM).cast("long").alias("dim"),
        F.when((F.expr(f"h DIV {HASH_EMBED_DIM}") % 2) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    vals = (
        rows.groupBy("doc_id", "dim")
        .agg(F.sum("sign").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )
    norms = vals.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val")).cast("double")).alias("norm")
    )
    return vals.join(norms, "doc_id").select(
        "doc_id",
        "dim",
        "val",
        (F.col("val").cast("double") / F.col("norm")).alias("weight"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (chars/4,
    the common heuristic) as exact integer arithmetic."""
    n_chars = F.length("text")
    n_ws = F.size(F.filter(F.split(F.col("text"), r"[ \t\n\x0B\f\r]+"), lambda t: t != ""))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.expr("CAST((length(text) + 3) DIV 4 AS BIGINT)").alias("n_bpe_est"),
    )


# vocabulary coverage checkpoints — spec constant shared with the
# oracle (oracles.token_coverage_sql); change both sides together.
VOCAB_COVERAGE_SIZES: tuple[int, ...] = (16, 64, 256)


def token_coverage(docs: DataFrame) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size N,
    the fraction of all corpus token OCCURRENCES covered by the N most
    frequent tokens (ties broken token-asc) — the tokenizer-sizing
    diagnostic an LM pipeline reports before committing to a vocab.

    Scale shape: one explode + one map-side-combinable groupBy(token);
    the top-N selection is ``orderBy().limit(kmax)`` (distributed
    TakeOrderedAndProject — each partition contributes at most kmax
    candidates), so the only window runs over ≤ kmax rows. Coverage is
    a theta-join of the tiny sizes dim against the tiny ranked frame;
    the int/int division is the sole float op (bit-exact)."""
    sizes = tuple(sorted(VOCAB_COVERAGE_SIZES))
    kmax = sizes[-1]
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    freqs = toks.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    total = freqs.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("total_tokens")
    )
    # ranked top-kmax vocabulary — ≤ kmax rows after the TakeOrdered,
    # so the unpartitioned row_number window is over a constant-size
    # frame at ANY corpus size.
    top = freqs.orderBy(F.desc("cnt"), F.asc("token")).limit(kmax)
    ranked = top.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        .alias("rk"),
    )
    sizes_df = docs.sparkSession.createDataFrame(
        [(int(s),) for s in sizes], "vocab_size long"
    )
    cov = (
        sizes_df.join(ranked, ranked["rk"] <= sizes_df["vocab_size"], "left")
        .groupBy("vocab_size")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0))
            .cast("long")
            .alias("covered_tokens")
        )
    )
    frac = F.when(
        F.col("total_tokens") > 0,
        F.col("covered_tokens").cast("double")
        / F.col("total_tokens").cast("double"),
    )
    return cov.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        frac.alias("coverage_frac"),
    )


# ---------------------------------------------------------------- model
# fastText-style linear quality scorer (Joulin et al. 2016, the standard
# CCNet/LLaMA-pipeline quality-classifier shape): a trained artifact of
# (token, weight) rows consumed as a broadcast dim; doc score = mean
# token weight. Weights are INTEGER milli-units so the only float op is
# one int/int division — bit-exact cross-engine. The tiny dim below is
# the deterministic stand-in for a trained model file (exactly like the
# fitted-quantizer stand-ins in similarity_search).
QUALITY_MODEL_WEIGHTS: list[tuple[str, int]] = [
    ("table", 40), ("query", 35), ("join", 30), ("spark", 50),
    ("stream", 30), ("vector", 45), ("window", 25), ("column", 25),
    ("hash", 20), ("merge", 20), ("agg", 15), ("sort", 10),
    ("slow", -60), ("the", -30), ("value", -20), ("small", -25),
    ("big", -15), ("row", -10),
]
QUALITY_MODEL_BIAS_MILLI = 0
QUALITY_SCORE_KEEP_MIN = 2.0  # avg milli-weight threshold for 'keep'


SPECTRUM_N = 3  # word n-gram order (unigrams are degenerate on the
                # closed synthetic vocab — same rationale as INDEX trigram
                # postings)


def gram_spectrum(docs: DataFrame) -> DataFrame:
    """Zipf frequency-of-frequency spectrum over word n-grams: bucket
    gram frequencies by power of two (bucket = bit-length(count) - 1
    via the portable ``length(bin(c))`` trick — no log crosses the
    oracle) and report types / occurrence mass / count range per
    bucket. The corpus-health table a dedup/vocab decision reads
    (hapax mass = novelty; heavy head = boilerplate). Two map-side-
    combinable groupBys; the spectrum is ≤64 rows at ANY corpus size.
    """
    from .dedup import _ngrams_col

    toks = tokens_col(F.col("text"))
    counts = (
        docs.select(F.explode(_ngrams_col(toks, SPECTRUM_N)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c"))
    )
    bucket = (F.length(F.bin(F.col("c"))) - 1).cast("long")
    return (
        counts.groupBy(bucket.alias("freq_bucket"))
        .agg(
            F.count("*").alias("n_types"),
            F.sum("c").cast("long").alias("n_occurrences"),
            F.min("c").cast("long").alias("min_count"),
            F.max("c").cast("long").alias("max_count"),
        )
    )


QCAL_NUM, QCAL_DEN = 1, 2  # per-source target keep rate <= 1/2


def quality_calibration(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Per-source ADAPTIVE quality threshold (the CCNet trick applied
    to the trained scorer): a single global cutoff over-prunes clean
    domains and under-prunes noisy ones, so each source gets the
    smallest integer score bin whose top-down cumulative mass stays
    within the target keep rate — the same bin-granular convention as
    :func:`lm_buckets` (a bin is kept iff DEN·cum_before < NUM·total;
    all BIGINT arithmetic). Windows touch only the (source × bins)
    count frame, never the corpus. Output: one calibration row per
    source (threshold, keep mass, achieved rate)."""
    q = quality_score(docs, model).select(
        "doc_id", F.floor(F.col("avg_score_milli")).cast("long").alias("bin")
    )
    s = q.join(docs.select("doc_id", "source"), "doc_id")
    binc = s.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.col("bin").desc())
    totals = binc.groupBy("source").agg(F.sum("n").cast("long").alias("n_total"))
    ranked = binc.select(
        "source", "bin", "n",
        (F.sum("n").over(w) - F.col("n")).cast("long").alias("cum_before"),
    ).join(totals, "source")
    kept = ranked.filter(
        QCAL_DEN * F.col("cum_before") < QCAL_NUM * F.col("n_total")
    )
    out = kept.groupBy("source").agg(
        F.min("bin").alias("threshold_milli"),
        F.sum("n").cast("long").alias("n_keep"),
        F.min("n_total").alias("n_total"),
    )
    return out.select(
        "source",
        "threshold_milli",
        "n_keep",
        "n_total",
        (F.col("n_keep").cast("double") / F.col("n_total").cast("double")
         ).alias("keep_rate"),
    )


def quality_model_dim(spark) -> DataFrame:
    """The trained-model artifact as a DataFrame — on a real pipeline
    this is `spark.read.parquet(model_path)`; here the deterministic
    spec table so the oracle can restate it as VALUES."""
    return spark.createDataFrame(
        QUALITY_MODEL_WEIGHTS, "token string, w_milli int"
    )


def quality_score(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Model-based quality score: explode tokens → broadcast-join the
    weight dim → per-doc sum (map-side combinable), joined back to the
    full doc list so unscored docs keep a 0 sum. Score = (bias +
    Σ w_milli over token OCCURRENCES) / n_tokens as one int/int
    division; label = keep/drop at QUALITY_SCORE_KEEP_MIN.

    Scale shape: the corpus side is one explode + one groupBy(doc_id)
    (fan-in bounded by tokens-per-doc); the model side broadcasts
    (vocab-sized, ≤ a few 10⁶ rows for real fastText vocabularies)."""
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    hits = (
        toks.join(F.broadcast(model), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum("w_milli").alias("w_sum"),
        )
    )
    base = docs.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    score = (
        (F.lit(QUALITY_MODEL_BIAS_MILLI) + F.coalesce("w_sum", F.lit(0)))
        .cast("double")
        / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
        F.coalesce("w_sum", F.lit(0)).cast("long").alias("score_milli_sum"),
        score.alias("avg_score_milli"),
        F.when(score >= F.lit(QUALITY_SCORE_KEEP_MIN), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


def quality_model_exprs(text) -> dict:
    """The linear scorer as NARROW column expressions (literal weight
    map + one fold) — the streaming twin's form of
    :func:`quality_score`: a stream can't explode-join itself, but the
    model dim is a broadcast-sized constant, so the lookup folds into
    the projection. Identical operands to the batch operator (integer
    occurrence sum, one int/int division), so labels agree exactly."""
    toks = tokens_col(text)
    wmap = F.create_map(
        *[F.lit(v) for tok, w in QUALITY_MODEL_WEIGHTS for v in (tok, w)]
    )
    w_sum = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.coalesce(wmap[x], F.lit(0)).cast("long"),
    )
    avg = (F.lit(QUALITY_MODEL_BIAS_MILLI) + w_sum).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    ).cast("double")
    return {
        "avg_score_milli": avg,
        "model_drop": avg < F.lit(float(QUALITY_SCORE_KEEP_MIN)),
    }


TFIDF_TOP = 5


def tfidf_keywords(docs: DataFrame) -> DataFrame:
    """Per-document TF-IDF keyword extraction — the corpus-weighted
    upgrade of the reference's per-page TF keywords (A3): token score =
    tf · N/df with the RATIONAL idf N/df (not ln(N/df): libm log is not
    correctly-rounded, so its last ulp may differ across engines; the
    rational form is one division of identical integers — bit-exact —
    and the per-document ranking is the deliverable, not the scale of
    the score). Top ``TFIDF_TOP`` tokens per doc, ties broken token-asc.

    Scale shape: one explode + two map-side-combinable groupBys (tf per
    (doc, token), df per token) + an equi-join + a per-doc top-k window
    (self-keyed). The df table is vocabulary-sized; at web scale the
    join is the standard SMJ on token.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("df").cast("double")
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", F.col("rank").cast("long").alias("rank"),
                "token", "tf", "df", "tfidf")
    )


# Gopher rule bounds (Rae et al. 2021 §A1.1), word-count bounds scaled
# to this corpus's document lengths (the paper uses 50..100k words)
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 10_000
GOPHER_MIN_MEAN_WORD = 2.0
GOPHER_MAX_MEAN_WORD = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8


def gopher_quality(docs: DataFrame) -> DataFrame:
    """The canonical Gopher document-quality rule suite (Rae et al.
    2021 §A1.1) as ONE narrow projection: word count bounds, mean word
    length bounds, symbol-to-word ratio (# and ... occurrences), bullet
    / ellipsis line fractions, alphabetic-word fraction, and the
    composed keep verdict. Ratios are int/int divisions — bit-exact
    cross-engine. Complements the heuristic band (text_quality) and the
    trained scorer (quality_score) as the third standard quality stage.
    """
    ws = F.filter(F.split(F.col("text"), r"[ \t\n\x0B\f\r]+"), lambda t: t != "")
    n_words = F.size(ws)
    sum_chars = F.length(F.array_join(ws, "")).cast("long")
    mean_word = sum_chars.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    n_hash = F.size(F.filter(F.split(F.col("text"), ""), lambda c: c == "#"))
    n_ellipsis = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\.\.\."), F.lit(0)))
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / F.greatest(
        n_words, F.lit(1)
    ).cast("double")
    lines = F.filter(F.split(F.col("text"), r"\n"), lambda l: l != "")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("• "),
        )
    )
    n_ell_end = F.size(F.filter(lines, lambda l: l.endswith("...")))
    bullet_frac = n_bullet.cast("double") / F.greatest(n_lines, F.lit(1)).cast("double")
    ellipsis_frac = n_ell_end.cast("double") / F.greatest(n_lines, F.lit(1)).cast("double")
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = n_alpha.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    keep = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word >= GOPHER_MIN_MEAN_WORD)
        & (mean_word <= GOPHER_MAX_MEAN_WORD)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_word.alias("mean_word_chars"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ellipsis_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_word_frac"),
        keep.alias("gopher_keep"),
    )


# ---- bigram-LM fluency scoring (CCNet-style LM filter) --------------
#
# CCNet (Wenzek et al. 2020) ranks documents by a language-model score
# and drops the worst tail. The distributable, oracle-exact analogue of
# its KenLM stage is an add-one-smoothed BIGRAM model trained on the
# corpus itself: every probability is one int/int division (IEEE
# correctly-rounded, identical in Spark and DuckDB), and the per-doc
# mean goes through the established ordered-fold recipe, so the score
# is bit-exact cross-engine — no transcendental (ln) ever crosses the
# oracle boundary.

LM_SMOOTH = 1  # Laplace add-k
LM_BUCKET_BINS = 1000  # lm_buckets score-bin granularity (spec constant)


# Flesch / Flesch-Kincaid coefficients — plain floats, interpolated
# into BOTH engines' SQL via repr so each parses the identical double
# (the bm25 literal recipe); the syllable heuristic is vowel-group
# counting with a floor of one per word (zero-vowel words count 1).
FLESCH_BASE, FLESCH_WPS, FLESCH_SPW = 206.835, 1.015, 84.6
FK_WPS, FK_SPW, FK_BASE = 0.39, 11.8, 15.59
READ_WORD_RE = r"[^a-z0-9]+"
READ_SENT_RE = r"[.!?]+"
READ_VOWEL_RE = r"[aeiou]+"
READ_BANDS = ((90.0, "very_easy"), (70.0, "easy"), (50.0, "medium"),
              (30.0, "hard"))
READ_BAND_DEFAULT = "very_hard"


def readability(docs: DataFrame) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic curriculum/quality signal next to the Gopher rules. Word,
    sentence and vowel-group counts are integers; per-word syllables
    use the vowel-group heuristic with a floor of 1 (zero-vowel words
    — ids, numbers — count one syllable). Both scores are a FIXED
    CHAIN of IEEE double ops over int/int divisions, so the values
    (and thus the band CASE) are bit-identical cross-engine — the
    collocations/bm25 float recipe. Narrow projection end to end."""
    low = F.lower(F.col("text"))
    words = F.filter(F.split(low, READ_WORD_RE), lambda t: t != F.lit(""))
    sents = F.filter(F.split(low, READ_SENT_RE), lambda s: F.trim(s) != F.lit(""))
    vgroups = F.size(F.regexp_extract_all(low, F.lit(READ_VOWEL_RE), F.lit(0)))
    novowel = F.size(F.filter(words, lambda w: ~w.rlike(READ_VOWEL_RE)))
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.greatest(F.size(sents), F.lit(1)).cast("long").alias("n_sentences"),
        (vgroups + novowel).cast("long").alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.greatest(
        F.col("n_words"), F.lit(1)
    ).cast("double")
    flesch = (
        F.lit(FLESCH_BASE) - F.lit(FLESCH_WPS) * F.col("words_per_sentence")
        - F.lit(FLESCH_SPW) * F.col("syllables_per_word")
    )
    grade = (
        F.lit(FK_WPS) * F.col("words_per_sentence")
        + F.lit(FK_SPW) * F.col("syllables_per_word")
        - F.lit(FK_BASE)
    )
    scored = base.select(
        "*", wps.alias("words_per_sentence"), spw.alias("syllables_per_word")
    ).select("*", flesch.alias("flesch"), grade.alias("fk_grade"))
    band = F.lit(READ_BAND_DEFAULT)
    for cut, name in reversed(READ_BANDS):
        band = F.when(F.col("flesch") >= cut, name).otherwise(band)
    return scored.select("*", band.alias("band"))


def _tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) — the single tokenization all LM consumers share."""
    return docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))


def _bigram_rows_from_toks(tokenized: DataFrame) -> DataFrame:
    """(doc_id, toks) → (doc_id, ord, prev, cur) — one row per
    in-document token transition, built narrowly via the shifted-zip
    trick (the derived arrays are each HOF's INPUT — never an index
    lambda)."""
    from .dedup import _shift

    toks = F.col("toks")
    pairs = F.filter(
        F.zip_with(
            toks,
            _shift(toks, 1),
            lambda a, b: F.when(
                b.isNotNull(), F.struct(a.alias("prev"), b.alias("cur"))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return tokenized.select(
        "doc_id", F.posexplode(pairs).alias("ord", "bg")
    ).select(
        "doc_id",
        F.col("ord").cast("long").alias("ord"),
        F.col("bg.prev").alias("prev"),
        F.col("bg.cur").alias("cur"),
    )


def lm_bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, ord, prev, cur) transition rows straight from a
    (doc_id, text) frame."""
    return _bigram_rows_from_toks(_tokenized(docs))


def lm_score(docs: DataFrame) -> DataFrame:
    """Per-document LM fluency score: the mean add-one-smoothed bigram
    transition probability p(cur|prev) = (C(prev,cur)+1) / (C(prev)+V),
    trained on the scored corpus (the self-trained analogue of CCNet's
    wiki-LM perplexity filter; higher = more fluent/stereotypical,
    lower = gibberish or OCR noise).

    The tokenized corpus feeds THREE consumers (bigram count table,
    scoring probe, unigram table), so the (doc_id, toks) frame is
    materialized once instead of re-running the regex split per
    consumer; the checkpoint also truncates the plan under the scoring
    joins.

    Scale shape: bigram/unigram count tables are map-side-combinable
    groupBys; scoring is two equi-joins of the transition rows against
    those tables (hot common bigrams skew only the probe side — one
    build row each, AQE skew-split applies); V rides in as a broadcast
    1-row frame so nothing is collected on the driver. The per-doc mean
    is collect_list(struct(ord,p)) → array_sort → left fold → ONE
    double division — the bit-exact cross-engine mean recipe; per-doc
    state is bounded by document length. Docs with <2 tokens keep a
    row with n_bigrams=0 and a NULL score (a filter stage must see
    every document)."""
    tokenized = materialize(_tokenized(docs))
    rows = _bigram_rows_from_toks(tokenized)
    uni = (
        tokenized.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    vocab = uni.agg(F.count("*").alias("v"))
    big = rows.groupBy("prev", "cur").agg(F.count("*").alias("c_big"))
    scored = (
        rows.join(big, ["prev", "cur"])
        .join(uni.withColumnRenamed("tok", "prev"), "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "ord",
            (
                (F.col("c_big") + F.lit(LM_SMOOTH)).cast("double")
                / (F.col("c_uni") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ord", "p"))),
            lambda s: s["p"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), folded.alias("s")
    )
    return tokenized.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("s") / F.col("n_bigrams").cast("double"),
        ).alias("lm_score"),
    )


def lm_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail corpus split by LM fluency,
    per source (CCNet buckets per LANGUAGE by wiki-LM perplexity
    percentiles; here the grouping dim is ``source`` and the score is
    the self-trained :func:`lm_score`, higher = more fluent = head).

    Equal-height terciles need per-source global ranks — a sort no
    100 TB job should run — so the split is **bin-granular**: scores
    land in ``floor(score * LM_BUCKET_BINS)`` fixed-width bins (one
    map-side-combinable groupBy over the corpus), the tercile
    boundaries are computed on the tiny (source × ≤bins) count frame
    (a bin belongs to the bucket of its FIRST-ranked doc:
    ``3·cum_before < total`` → head, ``< 2·total`` → middle — all
    BIGINT arithmetic, exact and portable), and each doc joins back to
    its bin's label. Windows touch only the grouped bin frame, never
    the corpus. Docs without a score (<2 tokens) keep a row with
    bucket='unscored' — a filter stage must see every document.

    The pruned scored frame feeds TWO consumers (the bin-count frame
    and the final label join-back); it is materialized so the lm_score
    DAG runs ONCE — otherwise Catalyst would replay the full scoring
    joins (and the corpus scan) per branch. That checkpoint lives until
    the caller's scope closes (the materialize.py contract); lm_score's
    tokenized checkpoint is released as soon as it exists."""
    scored = lm_score(docs)
    s = materialize(
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "lm_score",
            F.when(
                F.col("lm_score").isNotNull(),
                F.floor(F.col("lm_score") * LM_BUCKET_BINS),
            )
            .cast("long")
            .alias("bin"),
        )
    )
    release(scored)  # lm_score's tokenized checkpoint: s was its only reader
    binc = (
        s.filter(F.col("bin").isNotNull())
        .groupBy("source", "bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.col("bin").desc())
    ranked = binc.select(
        "source",
        "bin",
        (F.sum("n").over(w) - F.col("n")).cast("long").alias("cum_before"),
    )
    totals = binc.groupBy("source").agg(
        F.sum("n").cast("long").alias("total")
    )
    lab = ranked.join(totals, "source").select(
        "source",
        "bin",
        F.when(3 * F.col("cum_before") < F.col("total"), F.lit("head"))
        .when(3 * F.col("cum_before") < 2 * F.col("total"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return s.join(lab, ["source", "bin"], "left").select(
        "doc_id",
        "source",
        "lm_score",
        F.coalesce("bucket", F.lit("unscored")).alias("bucket"),
    )


# DSIR spec — shared with oracles.dsir_weights_sql (change both sides)
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
DSIR_BUCKETS = 1024
DSIR_TAU = 1.0


def dsir_weights(docs: DataFrame) -> DataFrame:
    """DSIR-style data-selection weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): hashed
    bigram features, per-bucket presence counts in the TARGET corpus
    (the curated sources) vs the RAW pool, each raw document scored by
    the mean add-one-smoothed likelihood ratio over its distinct
    feature buckets; selected = ratio >= DSIR_TAU (more target-like
    than raw-like on average).

    Deliberate deviation from the paper: the per-feature statistic is
    the RATIO p_t/p_r, not its log — ln is not correctly-rounded
    cross-engine (the tfidf_keywords rational-idf rule), while
    ((tc+1)(R+B)) / ((rc+1)(T+B)) is ONE IEEE division of two exact
    BIGINT products. Monotone per feature; the aggregate is a mean of
    ratios rather than a log-product, documented as part of the spec.

    Scale shape: distinct (doc, bucket) feature rows → one
    combiner-reduced groupBy(bucket) count table (<= DSIR_BUCKETS rows;
    AQE broadcasts it back), corpus totals as a broadcast 1-row frame;
    the per-doc mean is the ordered-fold bit-exact recipe. The corpus
    shuffles only on the feature distinct + the per-doc groupBy."""
    from .features import hash_bucket

    is_t = F.col("source").isin(*DSIR_TARGET_SOURCES)
    dim = docs.select("doc_id", is_t.alias("is_t"))
    rows = lm_bigram_rows(docs.select("doc_id", "text"))
    feats = rows.select(
        "doc_id",
        hash_bucket(F.concat_ws("\x1f", "prev", "cur"), DSIR_BUCKETS)
        .cast("long")
        .alias("bucket"),
    ).distinct()
    tagged = feats.join(dim, "doc_id")
    cnt = tagged.groupBy("bucket").agg(
        F.sum(F.col("is_t").cast("long")).alias("tc"),
        F.sum((~F.col("is_t")).cast("long")).alias("rc"),
    )
    tot = cnt.agg(F.sum("tc").alias("t_tot"), F.sum("rc").alias("r_tot"))
    terms = (
        tagged.filter(~F.col("is_t"))
        .join(cnt, "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "bucket",
            (
                ((F.col("tc") + 1) * (F.col("r_tot") + DSIR_BUCKETS)).cast(
                    "double"
                )
                / ((F.col("rc") + 1) * (F.col("t_tot") + DSIR_BUCKETS)).cast(
                    "double"
                )
            ).alias("term"),
        )
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "term"))),
            lambda s: s["term"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.count("*").alias("n_feat"), folded.alias("s")
    )
    avg = F.col("s") / F.col("n_feat").cast("double")
    return (
        dim.filter(~F.col("is_t"))
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feat", F.lit(0)).cast("long").alias("n_feat"),
            F.when(F.col("n_feat") > 0, avg).alias("avg_lr"),
            F.coalesce(
                F.when(F.col("n_feat") > 0, avg >= DSIR_TAU), F.lit(False)
            ).alias("selected"),
        )
    )


# collocation spec — shared with oracles.collocations_sql
def quality_agreement(docs: DataFrame, model: DataFrame) -> DataFrame:
    """Signal-agreement audit between the two quality filters a
    curation pipeline runs side by side: the heuristic band
    (text_quality) vs the trained linear scorer's verdict
    (quality_score) — the confusion table + within-band keep fraction
    that decides which filter to trust per regime (the standard
    filter-calibration check before swapping a heuristic for a model).

    Scale shape: both inputs are per-doc aggregates already; one
    equi-join on doc_id + one groupBy on the ≤6-cell (band, label)
    key; fractions are int/int double divisions."""
    q = text_quality(docs).select("doc_id", "quality")
    s = quality_score(docs, model).select("doc_id", "label")
    cells = q.join(s, "doc_id").groupBy("quality", "label").agg(
        F.count("*").cast("long").alias("n")
    )
    band = cells.groupBy("quality").agg(
        F.sum("n").cast("long").alias("band_total")
    )
    return cells.join(band, "quality").select(
        "quality",
        "label",
        "n",
        "band_total",
        (F.col("n").cast("double") / F.col("band_total").cast("double"))
        .alias("frac"),
    )


DSIR_SAMPLE_SCALE = 2.0  # keep probability = avg_lr / SCALE, capped at 1


def dsir_sample(docs: DataFrame) -> DataFrame:
    """Materialize DSIR importance RESAMPLING: each raw-pool document
    keeps with probability ``min(1, avg_lr / DSIR_SAMPLE_SCALE)``
    (weight-proportional, the paper's resampling step made
    deterministic), applied as the mixture_sample md5-bucket threshold
    — a pure function of (doc_id, corpus counts), stable across runs,
    partitionings and engines. Docs with no features (avg_lr NULL)
    keep rate 0. Emits every raw doc with its weight, rate and
    verdict (filter on ``sampled`` to materialize the resampled set).

    Scale shape: dsir_weights' own shape plus one narrow projection —
    the threshold test adds no shuffle."""
    from .features import hash_bucket
    from .pipeline import _SAMPLE_RES

    w = dsir_weights(docs)
    rate = F.least(
        F.lit(1.0), F.col("avg_lr") / F.lit(DSIR_SAMPLE_SCALE)
    )
    h = hash_bucket(F.col("doc_id"), _SAMPLE_RES)
    return w.select(
        "doc_id",
        "n_feat",
        "avg_lr",
        F.coalesce(rate, F.lit(0.0)).alias("keep_rate"),
    ).select(
        "doc_id",
        "n_feat",
        "avg_lr",
        "keep_rate",
        (h.cast("double") < F.col("keep_rate") * _SAMPLE_RES).alias(
            "sampled"
        ),
    )


COLLOC_MIN_COUNT = 5
COLLOC_TOP = 100


def collocations(docs: DataFrame) -> DataFrame:
    """Collocation mining: the top adjacent token pairs by PMI-style
    LIFT  p(x,y) / (p(x)·p(y))  with a minimum pair count — the
    phrase/multi-word-expression extraction step of an NLP corpus
    pipeline (Manning & Schütze ch. 5).

    Lift is computed as ``((c_xy / c_x) / c_y) · N`` — a fixed chain of
    IEEE double ops on exact integer inputs, bit-deterministic
    cross-engine, and overflow-free at any corpus size (the rational
    c_xy·N product would overflow BIGINT at web scale).

    Scale shape: bigram + unigram counts are map-side-combinable
    groupBys; the min-count filter drops the long tail BEFORE the two
    dimension joins; top-N is orderBy().limit() (distributed
    TakeOrderedAndProject — no global sort), tie-broken (lift desc,
    prev, cur) so the cut is deterministic."""
    rows = lm_bigram_rows(docs.select("doc_id", "text"))
    big = rows.groupBy("prev", "cur").agg(F.count("*").alias("c_big"))
    uni = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    n_big = big.agg(F.sum("c_big").cast("long").alias("n_big"))
    lift = (
        (
            F.col("c_big").cast("double") / F.col("c_prev").cast("double")
        )
        / F.col("c_cur").cast("double")
    ) * F.col("n_big").cast("double")
    return (
        big.filter(F.col("c_big") >= COLLOC_MIN_COUNT)
        .join(
            uni.select(F.col("tok").alias("prev"), F.col("c_uni").alias("c_prev")),
            "prev",
        )
        .join(
            uni.select(F.col("tok").alias("cur"), F.col("c_uni").alias("c_cur")),
            "cur",
        )
        .crossJoin(F.broadcast(n_big))
        .select(
            "prev",
            "cur",
            F.col("c_big").cast("long").alias("c_big"),
            F.col("c_prev").cast("long").alias("c_prev"),
            F.col("c_cur").cast("long").alias("c_cur"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("prev"), F.asc("cur"))
        .limit(COLLOC_TOP)
    )


# inverted-index spec — shared with oracles.inverted_index_sql
INDEX_DF_MIN = 2
INDEX_DF_CAP = 64
INDEX_NGRAM = 3  # postings are word trigrams


def _gram_doc_rows(docs: DataFrame) -> DataFrame:
    """Per-doc-distinct (token=word-``INDEX_NGRAM``-gram, doc_id) rows —
    the shared front end of inverted_index / index_search."""
    from .dedup import _ngrams_col

    return docs.select(
        F.explode(
            F.array_distinct(_ngrams_col(tokens_col(F.col("text")), INDEX_NGRAM))
        ).alias("token"),
        "doc_id",
    )


def inverted_index(docs: DataFrame) -> DataFrame:
    """PHRASE-index build (the search-engine / plagiarism-lookup
    primitive): per word ``INDEX_NGRAM``-gram in the mid-document-frequency
    band ``INDEX_DF_MIN <= df <= INDEX_DF_CAP``, the sorted posting list of documents
    containing it. Head phrases (df > cap) are excluded by spec: their
    postings are unbounded per-group state — a production index shards
    them, a corpus-analytics index (rare-but-shared phrases, the
    discriminative/boilerplate-detecting ones) drops them. Postings
    cross the oracle boundary as a comma-joined string.

    Scale shape: per-doc-distinct (gram, doc) rows, ONE map-side-
    combinable df count, the band filter BEFORE the collect (so
    per-group arrays are bounded by INDEX_DF_CAP at any corpus size),
    sorted join-back-free assembly."""
    td = _gram_doc_rows(docs)
    dfc = td.groupBy("token").agg(F.count("*").alias("df"))
    keep = dfc.filter(
        (F.col("df") >= INDEX_DF_MIN) & (F.col("df") <= INDEX_DF_CAP)
    )
    postings = F.array_join(
        F.transform(
            F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
        ),
        ",",
    )
    return (
        td.join(keep, "token")
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df"),
            postings.alias("postings"),
        )
    )


INDEX_QUERY_GRAMS = 8   # query set size (top-df banded phrases)
INDEX_SEARCH_TOPK = 20  # result list length


def index_search(docs: DataFrame) -> DataFrame:
    """Phrase retrieval over the inverted index: a fixed query set (the
    ``INDEX_QUERY_GRAMS`` highest-df banded phrases, ties → gram asc —
    the corpus's most widely shared discriminative phrases) is matched against the
    per-doc-distinct gram rows; each hit document scores the sum of
    rational idf = N/df over its matched phrases (the tfidf_keywords
    no-ln rule), folded in gram order for cross-engine exactness;
    result = top-``INDEX_SEARCH_TOPK`` docs by (score desc, doc_id asc)
    with hit counts.

    Scale shape: the query set is TakeOrdered (no global sort); the
    retrieval is one equi-join of the broadcast query dim against the
    gram rows; the candidate set is bounded by
    INDEX_QUERY_GRAMS·INDEX_DF_CAP
    (≤512 rows at spec) so the final ranking window is bounded by
    SPEC, not by corpus size; N rides a 1-row broadcast."""
    td = _gram_doc_rows(docs)
    dfc = td.groupBy("token").agg(F.count("*").alias("df"))
    band = dfc.filter(
        (F.col("df") >= INDEX_DF_MIN) & (F.col("df") <= INDEX_DF_CAP)
    )
    queries = band.orderBy(F.desc("df"), F.asc("token")).limit(INDEX_QUERY_GRAMS)
    tot = docs.agg(F.count("*").alias("n_total"))
    hits = (
        td.join(queries, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "token",
            (
                F.col("n_total").cast("double") / F.col("df").cast("double")
            ).alias("idf"),
        )
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("token", "idf"))),
            lambda s: s["idf"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits"), folded.alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= INDEX_SEARCH_TOPK)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "n_hits",
            "score",
        )
    )


VOCAB_GROWTH_BUCKETS = 16
VOCAB_GROWTH_CKPTS = (1, 4, 8, 16)  # corpus fractions 1/16, 1/4, 1/2, 1


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary growth curve — the tokenizer-sizing
    diagnostic: at nested corpus checkpoints (the docs whose id hash
    lands below k of 16 buckets, k ∈ {1,4,8,16}), the doc count, token
    occurrences, and DISTINCT token count. The rolling distinct is
    relational: a token belongs to checkpoint k iff its MINIMUM bucket
    < k, so one per-token min + a ≤16-row histogram answers every
    checkpoint — the corpus is never re-scanned per checkpoint and no
    windowed COUNT DISTINCT appears.

    Scale shape: one token explode → two map-side-combinable groupBys
    (per-bucket occurrences, per-token min-bucket) → joins of ≤16-row
    aggregate tables against the 4-row checkpoint dim."""
    from .features import hash_bucket

    spark = docs.sparkSession
    ck = spark.createDataFrame(
        [(int(c),) for c in VOCAB_GROWTH_CKPTS], "ck long"
    )
    b = hash_bucket(F.col("doc_id"), VOCAB_GROWTH_BUCKETS)
    toks = docs.select(
        b.alias("b"), F.explode(tokens_col(F.col("text"))).alias("token")
    )
    per_b = toks.groupBy("b").agg(F.count("*").cast("long").alias("occ"))
    docs_b = docs.select(b.alias("b")).groupBy("b").agg(
        F.count("*").cast("long").alias("nd")
    )
    minb = (
        toks.groupBy("token")
        .agg(F.min("b").alias("mb"))
        .groupBy("mb")
        .agg(F.count("*").cast("long").alias("nv"))
    )
    nd = ck.join(docs_b, F.col("b") < F.col("ck")).groupBy("ck").agg(
        F.sum("nd").cast("long").alias("n_docs")
    )
    occ = ck.join(per_b, F.col("b") < F.col("ck")).groupBy("ck").agg(
        F.sum("occ").cast("long").alias("n_tokens")
    )
    nv = ck.join(minb, F.col("mb") < F.col("ck")).groupBy("ck").agg(
        F.sum("nv").cast("long").alias("n_distinct")
    )
    return (
        nd.join(occ, "ck")
        .join(nv, "ck")
        .select(
            F.col("ck").alias("buckets"), "n_docs", "n_tokens", "n_distinct"
        )
    )


BM25_K1 = 1.2   # TF saturation (Robertson's standard default)
BM25_B = 0.75   # length-normalization strength


def bm25_search(docs: DataFrame) -> DataFrame:
    """BM25 retrieval (Robertson & Spärck Jones, public) over the same
    banded-phrase query set as index_search, adding the two things raw
    idf lacks: TF saturation (k1) and document-length normalization
    (b). Per matched (doc, gram):
    ``idf · (tf·(k1+1)) / (tf + k1·(1−b + b·(dl/avgdl)))`` with
    rational idf = N/df (no ln crosses the oracle boundary — the
    tfidf_keywords rule) and every float literal round-tripped through
    one Python computation so both engines parse the identical double;
    the per-doc sum folds in gram order (bit-exact).

    Scale shape: (doc, gram) TF counts and per-doc lengths are
    map-side-combinable groupBys; the query dim (INDEX_QUERY_GRAMS rows)
    and the (N, Σdl) totals (1 row) broadcast; candidates stay bounded
    by INDEX_QUERY_GRAMS·INDEX_DF_CAP BY SPEC, so the ranking window
    never scales with the corpus."""
    from .dedup import _ngrams_col

    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    toks = docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id", F.explode(_ngrams_col(F.col("toks"), INDEX_NGRAM)).alias("token")
    )
    tf = grams.groupBy("doc_id", "token").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
    band = dfc.filter(
        (F.col("df") >= INDEX_DF_MIN) & (F.col("df") <= INDEX_DF_CAP)
    )
    queries = band.orderBy(F.desc("df"), F.asc("token")).limit(INDEX_QUERY_GRAMS)
    dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tot = dl.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_total").cast("double")
    idf = F.col("n_total").cast("double") / F.col("df").cast("double")
    term = idf * (
        (tfd * F.lit(k1p1))
        / (
            tfd
            + F.lit(BM25_K1)
            * (F.lit(one_minus_b) + F.lit(BM25_B) * (dld / avgdl))
        )
    )
    hits = (
        tf.join(queries, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "token", term.alias("term"))
    )
    folded = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("token", "term"))),
            lambda s: s["term"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = hits.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits"), folded.alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= INDEX_SEARCH_TOPK)
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            "n_hits",
            "score",
        )
    )


# linear-counting sketch width — shared with the oracle
# (oracles.token_cardinality_sql); change both sides together.
CARD_BUCKETS = 1024


def token_cardinality(docs: DataFrame) -> DataFrame:
    """Distinct-token cardinality per source, exact AND as the
    occupancy of a ``CARD_BUCKETS``-wide linear-counting sketch — the
    vocabulary-size signal a mixture designer reads, computed the two
    ways a fleet can afford: the exact distinct needs a corpus-wide
    (source, token) distinct; the sketch needs a FIXED 1024-value
    state per source regardless of corpus size (what a 100 TB job
    actually keeps). Emitting both on the same corpus calibrates the
    estimator. Integer-only output: the ``−M·ln(1−k/M)`` estimate is
    the consumer's step — ``ln`` is not cross-engine bit-stable, the
    same boundary mixture_weights draws at normalization.

    Scale shape: groupBy(source, token) is map-side combinable (a
    10⁹-occurrence stopword partial-aggregates before the shuffle);
    the bucket distinct sees ≤ CARD_BUCKETS values per source."""
    from .features import hash_bucket

    toks = docs.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    pairs = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("n_occ")
    )
    return pairs.groupBy("source").agg(
        F.sum("n_occ").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.countDistinct(hash_bucket(F.col("tok"), CARD_BUCKETS))
        .cast("long")
        .alias("n_buckets_occupied"),
    )


# per-source length-quantile checkpoints — shared with the oracle
# (oracles.length_quantiles_sql); change both sides together.
QUANTILE_PCTS: tuple[int, ...] = (25, 50, 75, 95)


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Exact per-source document-length quantiles via the HISTOGRAM
    route — the only way percentiles scale to 10⁹ docs/source: a
    corpus-wide sort per source is a single-reducer death, but the
    (source, length) histogram is map-side combinable and bounded by
    the integer LENGTH DOMAIN, not the doc count. The discrete
    quantile rule is pure integers (smallest length whose cumulative
    count reaches ``ceil(p·n/100)``), so the result is cross-engine
    exact — no interpolation float ever exists.

    Scale shape: groupBy((source, len)) partial-aggregates; the
    cumulative window is self-keyed per source over the bounded length
    domain; thresholds come from a broadcast 4-row pct dim."""
    lens = docs.select(
        "source", F.length("text").cast("long").alias("len")
    )
    hist = lens.groupBy("source", "len").agg(
        F.count("*").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("n").over(w).cast("long"))
    tot = hist.groupBy("source").agg(F.sum("n").cast("long").alias("n_docs"))
    pcts = docs.sparkSession.createDataFrame(
        [(int(p),) for p in QUANTILE_PCTS], "pct long"
    )
    # ceil(p·n/100) in pure integer arithmetic (no float, no cast-floor)
    thr = F.expr("CAST((pct * n_docs + 99) DIV 100 AS BIGINT)")
    return (
        cum.join(tot, "source")
        .crossJoin(F.broadcast(pcts))
        .filter(F.col("cum") >= thr)
        .groupBy("source", "pct")
        .agg(
            F.min("len").alias("q_len"),
            F.min("n_docs").alias("n_docs"),
        )
    )
