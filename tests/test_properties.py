"""Property-based tests (hypothesis) for the operator invariants the
fixture tests can't sweep: arbitrary span multisets, arbitrary match
sequences, arbitrary token texts.

Hypothesis drives the INPUT GENERATION; each property materializes one
small Spark job per example, so example counts are kept low (Spark
round-trips are ~100 ms each).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_FAST = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_span = st.tuples(
    st.sampled_from(["text", "media"]),
    st.text(
        alphabet="ab 记账\n<|ref|>[[12, 3]]",  # marker/bbox/CJK fragments
        max_size=24,
    ),
    st.integers(min_value=0, max_value=9),  # offset — duplicates likely
)


@_FAST
@given(st.lists(_span, max_size=12), st.randoms(use_true_random=False))
def test_extraction_permutation_invariant(spark, spans, rnd):
    """The extraction output is a pure function of the span MULTISET —
    any stored order of the same spans yields byte-identical output
    (the north-rule invariant, on arbitrary generated spans)."""
    from pdf_ocr_comparison_tool_spark.operators import extraction

    def df_for(order):
        rows = [
            (
                0,
                [
                    {
                        "kind": k,
                        "text": t if k == "text" else "",
                        "media_ref": f"m://0/{i}" if k == "media" else "",
                        "offset": off,
                    }
                    for i, (k, t, off) in order
                ],
            )
        ]
        from pdf_ocr_comparison_tool_spark.synth import DOCUMENTS_SCHEMA

        return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    base = list(enumerate(spans))
    shuffled = base[:]
    rnd.shuffle(shuffled)
    out_a = extraction.extract_ordered_spans(df_for(base)).collect()
    out_b = extraction.extract_ordered_spans(df_for(shuffled)).collect()
    assert out_a == out_b


@_FAST
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # t_doc
            st.integers(min_value=1, max_value=6),  # t_page
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_merge_islands_invariants(spark, seq):
    """For ANY best-match sequence: islands partition the pages (sum of
    n_pages = input rows), every island's avg_sim lies within the
    min/max of its members' sims, and page ranges are well-formed."""
    from pdf_ocr_comparison_tool_spark.operators import merge

    rows = [
        (
            0,
            i + 1,
            td,
            (tp if td is not None else None),
            round(sim, 6),
            "未找到" if td is None else ("完全匹配" if sim >= 0.95 else "部分匹配"),
        )
        for i, (td, tp, sim) in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, page_num int, t_doc long, t_page int,"
        " sim double, status string",
    )
    out = merge.merge_page_matches(df).collect()
    assert sum(r["n_pages"] for r in out) == len(rows)
    sims = [r[4] for r in rows]
    for isl in out:
        assert min(sims) - 1e-9 <= isl["avg_sim"] <= max(sims) + 1e-9
        assert isl["page_range"].startswith("P")


@_FAST
@given(st.text(alphabet="abc 01记账凭证,.\n", max_size=60))
def test_keywords_and_quality_bounded(spark, text):
    """Per-page keyword/tokenizer operators never crash on arbitrary
    text and respect their contracts: ≤10 keywords, each of length ≥ 2,
    non-digit; relational TF rows have positive counts whose total
    equals an independent (HOF-expression) tokenization of the text."""
    from pdf_ocr_comparison_tool_spark import sqlgen as G
    from pdf_ocr_comparison_tool_spark.operators import features, matching

    df = spark.createDataFrame([(1, 1, text)], "doc_id long, page_num int, text string")
    row = df.select(features.page_keywords_expr(F.col("text")).alias("kw")).collect()[0]
    assert len(row["kw"]) <= 10
    for k in row["kw"]:
        assert len(k) >= 2 and not k.isdigit()
    tf_rows = matching.cosine_token_rows(df, ["doc_id", "page_num"]).collect()
    assert all(r["cnt"] > 0 for r in tf_rows)
    assert len({r["tok"] for r in tf_rows}) == len(tf_rows)
    folded = F.lower(F.translate(F.col("text"), G.CJK_FOLD_SRC, G.CJK_FOLD_DST))
    n_toks = df.select(
        F.size(
            F.filter(F.split(folded, r"[^a-z0-9@#$%&*]+"), lambda x: x != "")
        ).alias("n")
    ).collect()[0]["n"]
    assert sum(r["cnt"] for r in tf_rows) == n_toks


@_FAST
@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=120),
    st.integers(min_value=1, max_value=3),  # fanin_bits
)
def test_bucketed_cumsum_equals_naive(spark, vals, fanin_bits):
    """The recursive bounded prefix sum equals the naive sequential
    prefix sum for ARBITRARY value lists and recursion shapes (the
    threshold is forced tiny so multiple levels engage whenever the
    input allows)."""
    from pdf_ocr_comparison_tool_spark.operators import pipeline

    threshold = max(1 << fanin_bits, 4)
    totals = spark.createDataFrame(
        list(enumerate(vals)), "bkt long, v long"
    )
    got = {
        r["bkt"]: r["off"]
        for r in pipeline._bucketed_cumsum(
            totals, "bkt", "v", "off",
            threshold=threshold, fanin_bits=fanin_bits,
        ).collect()
    }
    run, expect = 0, {}
    for i, v in enumerate(vals):
        expect[i] = run
        run += v
    assert got == expect


@_FAST
@given(
    st.lists(
        st.text(alphabet="abc xy\n", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.randoms(use_true_random=False),
)
def test_line_dedup_partition_and_order_invariant(spark, texts, rnd):
    """line_dedup's verdict is a pure function of the document SET:
    identical under input reordering and any partition layout, every
    segment row keeps iff it is the minimal occurrence of its text,
    and exactly one keeper exists per distinct segment."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    shuffled = rows[:]
    rnd.shuffle(shuffled)

    def run(rws, parts):
        df = spark.createDataFrame(rws, "doc_id long, text string").repartition(parts)
        return {
            (r["doc_id"], r["line_no"], r["seg_idx"]): (r["seg"], r["n_occ"], r["keep"])
            for r in dedup.line_dedup(df).collect()
        }

    a, b = run(rows, 1), run(shuffled, 5)
    assert a == b
    by_seg: dict = {}
    for key, (seg, n_occ, keep) in a.items():
        by_seg.setdefault(seg, []).append((key, n_occ, keep))
    for seg, members in by_seg.items():
        assert all(n == len(members) for _, n, _ in members)
        keepers = [k for k, _, kp in members if kp]
        assert keepers == [min(k for k, _, _ in members)]


@_FAST
@given(st.lists(st.text(alphabet="pq r", max_size=20), max_size=6))
def test_corpus_diff_self_is_unchanged(spark, texts):
    """diff(corpus, corpus) marks every doc unchanged — and a disjoint
    pair of snapshots yields only added+removed."""
    from pdf_ocr_comparison_tool_spark.operators import pipeline

    rows = [(i, t) for i, t in enumerate(texts)]
    if rows:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        same = pipeline.corpus_diff(df, df).collect()
        assert {r["status"] for r in same} <= {"unchanged"}
        assert len(same) == len(rows)
        other = spark.createDataFrame(
            [(i + 1000, t) for i, t in rows], "doc_id long, text string"
        )
        dis = pipeline.corpus_diff(df, other).collect()
        assert {r["status"] for r in dis} <= {"added", "removed"}
        assert len(dis) == 2 * len(rows)


_word = st.text(alphabet="abcdefgh", min_size=2, max_size=5)
_doc_text = st.lists(_word, min_size=0, max_size=40).map(" ".join)


@_FAST
@given(st.lists(_doc_text, min_size=1, max_size=6))
def test_substring_dup_bounds(spark, texts):
    """Coverage invariants on arbitrary corpora: dup_tokens ≤ n_tokens,
    n_dup_grams ≤ max(n_tokens − k + 1, 0), frac ∈ [0, 1], and a corpus
    of one doc with all-unique windows reports zero."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for r in dedup.substring_dup_stats(docs).collect():
        k = dedup.SUBSTR_GRAM_K
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
        assert 0 <= r["n_dup_grams"] <= max(r["n_tokens"] - k + 1, 0)
        assert 0.0 <= r["dup_token_frac"] <= 1.0


@_FAST
@given(st.lists(st.text(alphabet="ab12年月日元金额：,.¥ ", max_size=30),
                min_size=1, max_size=5))
def test_redact_idempotent(spark, texts):
    """Scrubbing is idempotent: replacement tokens contain no digits,
    so a second pass never finds a new match."""
    from pdf_ocr_comparison_tool_spark.operators import features

    docs = spark.createDataFrame(
        [(i, "r", 0, t) for i, t in enumerate(texts)],
        "doc_id long, role string, page_num int, text string",
    )
    once = features.redact_pages(docs).select(
        "doc_id", F.col("redacted").alias("text"), F.lit("r").alias("role"),
        F.lit(0).alias("page_num"),
    )
    twice = features.redact_pages(once)
    joined = (
        features.redact_pages(docs)
        .select("doc_id", F.col("redacted").alias("a"))
        .join(twice.select("doc_id", F.col("redacted").alias("b")), "doc_id")
    )
    assert joined.filter(F.col("a") != F.col("b")).count() == 0


@_FAST
@given(st.lists(_doc_text, min_size=1, max_size=6))
def test_quality_model_batch_equals_narrow(spark, texts):
    """The batch scorer (explode + broadcast-dim join) and the
    streaming narrow form (literal map + fold) produce identical
    labels and averages on arbitrary corpora."""
    from pdf_ocr_comparison_tool_spark.operators import textstats

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    batch = textstats.quality_score(docs, textstats.quality_model_dim(spark))
    e = textstats.quality_model_exprs(F.col("text"))
    narrow = docs.select(
        "doc_id",
        e["avg_score_milli"].alias("avg_n"),
        e["model_drop"].alias("drop_n"),
    )
    j = batch.join(narrow, "doc_id")
    bad = j.filter(
        (F.col("avg_score_milli") != F.col("avg_n"))
        | (F.col("drop_n") != (F.col("label") == "drop"))
    ).count()
    assert bad == 0


@given(
    st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None)
def test_lm_score_matches_python_reference(spark, texts):
    """lm_score == a pure-Python add-one bigram LM computed the same
    way (token defs shared); degenerate docs (<2 tokens) keep a row
    with n_bigrams=0 and NULL score; defined scores sit in (0, 1]."""
    import re
    from collections import Counter

    from pdf_ocr_comparison_tool_spark.operators import textstats

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.lm_score(docs).collect()}
    assert set(out) == {i for i, _ in rows}

    def toks(t):
        return [
            w for w in re.split(r"[^a-z0-9]+", t.lower()) if len(w) >= 2
        ]

    uni = Counter(w for _, t in rows for w in toks(t))
    big = Counter(
        (ts[i], ts[i + 1])
        for _, t in rows
        for ts in [toks(t)]
        for i in range(len(ts) - 1)
    )
    v = len(uni)
    for i, t in rows:
        ts = toks(t)
        r = out[i]
        n = max(len(ts) - 1, 0)
        assert r["n_bigrams"] == n
        if n == 0:
            assert r["lm_score"] is None
            continue
        s = 0.0
        for j in range(n):
            s = s + (big[(ts[j], ts[j + 1])] + 1) / (uni[ts[j]] + v)
        assert r["lm_score"] == s / n
        assert 0.0 < r["lm_score"] <= 1.0


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="ab x", min_size=0, max_size=30),
            st.sampled_from(["s1", "s2"]),
        ),
        min_size=1,
        max_size=14,
    )
)
@settings(max_examples=10, deadline=None)
def test_lm_buckets_matches_python_bucketing(spark, rows_in):
    """lm_buckets == python re-bucketing of the engine's own scores
    under the documented bin rule: per source, bins ordered DESC, a
    bin is head/middle/tail by its first-ranked doc (3*cum_before vs
    total), unscored docs labeled 'unscored'."""
    import math
    from collections import defaultdict

    from pdf_ocr_comparison_tool_spark.operators import textstats

    rows = [(i, t, s) for i, (t, s) in enumerate(rows_in)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    scores = {
        r["doc_id"]: r["lm_score"]
        for r in textstats.lm_score(docs).collect()
    }
    got = {r["doc_id"]: r["bucket"] for r in textstats.lm_buckets(docs).collect()}
    assert set(got) == set(scores)

    bins: dict = defaultdict(lambda: defaultdict(int))
    for i, _, src in rows:
        if scores[i] is not None:
            bins[src][math.floor(scores[i] * textstats.LM_BUCKET_BINS)] += 1
    labels: dict = {}
    for src, bc in bins.items():
        total = sum(bc.values())
        cum = 0
        for b in sorted(bc, reverse=True):
            labels[(src, b)] = (
                "head" if 3 * cum < total
                else "middle" if 3 * cum < 2 * total
                else "tail"
            )
            cum += bc[b]
    for i, _, src in rows:
        if scores[i] is None:
            assert got[i] == "unscored"
        else:
            assert got[i] == labels[(src, math.floor(scores[i] * textstats.LM_BUCKET_BINS))]


def test_bpe_vocab_artifact_shape(spark):
    """bpe_vocab ids are contiguous 0..n-1; the char block is the
    lexicographically-sorted alphabet with freq-weighted occurrence
    counts; the merge block follows in merge order with pair_freq
    weights (== bpe_fit_py)."""
    from collections import Counter

    from pdf_ocr_comparison_tool_spark.operators import bpe

    rows = [
        (1, "low lower lowest low low newer new newest wider wide"),
        (2, "aaaa aaa aa low new wide wider banana bandana"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (
            (r["token_id"], r["token"], r["kind"], r["weight"])
            for r in bpe.bpe_vocab(docs).collect()
        )
    )
    assert [t[0] for t in out] == list(range(len(out)))
    wf: dict = {}
    for _, t in rows:
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    char_w = Counter()
    for w, f in wf.items():
        for ch in w:
            char_w[ch] += f
    chars = [t for t in out if t[2] == "char"]
    assert [t[1] for t in chars] == sorted(char_w)
    assert all(t[3] == char_w[t[1]] for t in chars)
    merges = [t for t in out if t[2] == "merge"]
    ref = bpe.bpe_fit_py(wf)
    assert [(t[1], t[3]) for t in merges] == [
        (merged, pf) for _, _, _, merged, pf in ref
    ]
    assert merges[0][0] == len(chars)  # ids continue after the char block


def test_substring_rewrite_keep_first(spark):
    """Keep-first ExactSubstr removal: a shared verbatim k-window
    survives only in the lowest (doc_id, pos) occurrence; unique text
    is untouched; a within-doc repeat keeps its first copy."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    span = " ".join(f"w{i}" for i in range(dedup.SUBSTR_GRAM_K))
    rows = [
        (1, f"intro one {span} outro one"),
        (2, f"different lead {span} different tail"),
        (3, f"{span} middle bit {span}"),
        (4, "totally unique text with no repeats here at all ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.substring_rewrite(docs).collect()}
    # doc 1 holds the corpus-wide first occurrence -> fully kept
    assert out[1]["n_removed"] == 0
    assert out[1]["kept_text"] == f"intro one {span} outro one"
    # doc 2's copy is removed, its unique lead/tail kept
    assert out[2]["n_removed"] == dedup.SUBSTR_GRAM_K
    assert out[2]["kept_text"] == "different lead different tail"
    # doc 3: both copies are non-first occurrences -> only the middle
    # survives (the within-doc first copy at pos 0 is still a
    # non-keeper because doc 1 holds the corpus-wide minimum)
    assert out[3]["kept_text"] == "middle bit"
    assert out[4]["n_removed"] == 0
    assert out[4]["kept_text"] == rows[3][1]


@_FAST
@given(st.lists(_doc_text, min_size=1, max_size=6))
def test_token_coverage_monotone(spark, texts):
    """Coverage is monotone nondecreasing in vocab_size, bounded by
    [0, 1], and covered == total once the vocab holds every token."""
    from pdf_ocr_comparison_tool_spark.operators import textstats

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = sorted(
        textstats.token_coverage(docs).collect(),
        key=lambda r: r["vocab_size"],
    )
    prev = -1
    for r in rows:
        assert 0 <= r["covered_tokens"] <= r["total_tokens"]
        assert r["covered_tokens"] >= prev
        prev = r["covered_tokens"]
        if r["total_tokens"] > 0:
            assert 0.0 <= r["coverage_frac"] <= 1.0
    # the synthetic vocab is tiny (< max checkpoint), so the largest
    # checkpoint covers everything
    if rows and rows[-1]["total_tokens"] > 0:
        assert rows[-1]["covered_tokens"] == rows[-1]["total_tokens"]


_line = st.lists(st.sampled_from(["alpha", "beta", "gamma", "nav bar"]),
                 min_size=0, max_size=4).map(" ".join)


@_FAST
@given(st.lists(st.lists(_line, min_size=0, max_size=6).map("\n".join),
                min_size=1, max_size=4))
def test_doc_line_trim_idempotent(spark, texts):
    """A second trim pass over the kept text finds nothing to remove
    (n_segs == n_kept everywhere), and kept counts never exceed
    original counts."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    once = dedup.doc_line_trim(docs)
    for r in once.collect():
        assert r["n_kept"] <= r["n_segs"]
    again = dedup.doc_line_trim(
        once.select("doc_id", F.col("kept_text").alias("text"))
    )
    for r in again.collect():
        assert r["n_segs"] == r["n_kept"]


def test_span_dedup_media_aware(spark):
    """Identical docs collapse (keeper = min doc_id); docs equal in
    text but differing in media_ref do NOT collapse."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    spans_t = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    mk = lambda media: [  # noqa: E731
        ("text", "hello world line", "", 2),
        ("media", "", media, 1),
    ]
    rows = [
        (1, mk("m://a/0")),
        (2, mk("m://a/0")),   # exact dup of 1
        (3, mk("m://b/0")),   # same text, different media
    ]
    docs = spark.createDataFrame(rows, f"doc_id long, spans {spans_t}")
    out = {r["doc_id"]: r for r in dedup.span_dedup(docs).collect()}
    assert out[1]["span_fp"] == out[2]["span_fp"]
    assert out[1]["span_fp"] != out[3]["span_fp"]
    assert out[1]["keep"] and not out[2]["keep"] and out[3]["keep"]
    assert out[1]["n_occ"] == 2 and out[3]["n_occ"] == 1


def test_dedup_keep_best_invariants(spark):
    """Exactly one keeper per cluster; the keeper holds the cluster's
    max score and, among max-scorers, the smallest id."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 40)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 2.0), (3, 2.0), (4, -1.0), (5, -1.0)],
        "doc_id long, avg_score_milli double",
    )
    out = dedup.keep_best_in_cluster(clusters, scores).collect()
    keepers = {r["cluster_id"]: r["doc_id"] for r in out if r["keep_best"]}
    assert len([r for r in out if r["keep_best"]]) == len(keepers) == 2
    assert keepers[10] == 2  # max score 2.0, tie (2,3) -> min id
    assert keepers[40] == 4  # tie (4,5) -> min id


def test_ann_recall_full_probe_is_exhaustive(spark):
    """Probing every centroid makes IVF scan the whole corpus, so
    recall@k against the brute ground truth is exactly 1.0."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    out = ss.ann_recall(
        emb, n_queries=4, k=5,
        n_centroids=ss.IVF_N_CENTROIDS, nprobe=ss.IVF_N_CENTROIDS,
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r["n_hits"] == r["k"] == 5
        assert r["recall"] == 1.0


def test_minhash_calibration_invariants(spark):
    """Estimate and exact Jaccard live in [0,1]; abs_err is exactly
    |est − jaccard|; n_agree is bounded by the signature size."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import dedup
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    for r in dedup.minhash_calibration(docs).collect():
        assert 0 <= r["n_agree"] <= dedup.NUM_HASHES
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["abs_err"] == abs(r["est_jaccard"] - r["jaccard"])


def test_cluster_size_stats_accounts_every_doc(spark):
    """Σ n_docs over the size distribution equals the clustered doc
    count, and no cluster of size < 2 exists (CC only emits nodes that
    appear in a pair)."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import dedup
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    withsig = dedup.with_minhash(docs).cache()
    pairs = dedup.lsh_candidate_pairs(withsig)
    verified = dedup.verified_near_dups(withsig, pairs).select("a", "b")
    clusters = dedup.connected_components(verified)
    stats = dedup.cluster_size_stats(clusters).collect()
    assert sum(r["n_docs"] for r in stats) == clusters.count()
    assert all(r["cluster_size"] >= 2 for r in stats)


def test_pq_recall_bounds_and_floor(spark):
    """PQ recall is a valid fraction per query; the floor only guards
    collapse-to-zero — the exact value (0.3125 at sf0.001 for the
    first-K codebook stand-in) is pinned by the driver oracle, and
    recall is NOT monotone in codebook quality (see the kmeans
    recall-floor note), so no tighter bound is asserted."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    rows = ss.pq_recall(emb).collect()
    assert len(rows) == ss.PQ_N_QUERIES
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hits"] <= r["k"]
    mean = sum(r["recall"] for r in rows) / len(rows)
    assert mean >= 0.15, f"PQ mean recall collapsed: {mean}"


def test_semdedup_invariants(spark):
    """SemDeDup keep policy: exactly one keeper per cluster; the keeper
    holds the cluster-max centroid distance (tie → min vec_id); and a
    cluster never crosses a cell (pairs form within cells only)."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    rows = ss.semdedup(emb).collect()
    assert rows, "fixture must produce at least one dup cluster"
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert len(members) >= 2, "a cluster is at least one pair"
        assert len({m["centroid_id"] for m in members}) == 1, (
            f"cluster {cid} crosses cells"
        )
        keepers = [m for m in members if m["keep"]]
        assert len(keepers) == 1, f"cluster {cid}: {len(keepers)} keepers"
        mx = max(m["dist"] for m in members)
        argmax = min(m["vec_id"] for m in members if m["dist"] == mx)
        assert keepers[0]["vec_id"] == argmax


def test_knn_label_noise_invariants(spark):
    """n_same never exceeds n_nbrs; suspect is exactly majority
    disagreement; the majority label really is a mode of the neighbor
    votes (recomputed off the knn_join output)."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    nbrs: dict[int, list[int]] = {}
    for r in ss.knn_join(emb).collect():
        nbrs.setdefault(r["vec_id"], []).append(labels[r["nbr_id"]])
    out = ss.knn_label_noise(emb).collect()
    assert out and len(out) == len(nbrs)
    for r in out:
        votes = nbrs[r["vec_id"]]
        assert r["n_nbrs"] == len(votes)
        assert r["n_same"] == sum(1 for v in votes if v == r["label"])
        assert 0 <= r["n_same"] <= r["n_nbrs"]
        top = max(votes.count(v) for v in set(votes))
        assert votes.count(r["nbr_majority"]) == top
        assert r["nbr_majority"] == min(v for v in set(votes) if votes.count(v) == top)
        assert r["suspect"] == (r["nbr_majority"] != r["label"])


def test_index_search_matches_python_scoring(spark):
    """The retrieval result equals a pure-Python recompute: same top-q
    query set (df desc, gram asc), same rational-idf gram-ordered fold
    per doc, same (score desc, doc_id) ranking."""
    from pdf_ocr_comparison_tool_spark.operators import textstats as T
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    td = [(r["token"], r["doc_id"]) for r in T._gram_doc_rows(docs).collect()]
    n_total = docs.count()
    df: dict[str, int] = {}
    for tok, _ in td:
        df[tok] = df.get(tok, 0) + 1
    band = {
        t: c for t, c in df.items() if T.INDEX_DF_MIN <= c <= T.INDEX_DF_CAP
    }
    qset = dict(
        sorted(band.items(), key=lambda kv: (-kv[1], kv[0]))[
            : T.INDEX_QUERY_GRAMS
        ]
    )
    per_doc: dict[int, list[tuple[str, float]]] = {}
    for tok, doc in td:
        if tok in qset:
            per_doc.setdefault(doc, []).append((tok, n_total / float(qset[tok])))
    scored = []
    for doc, hits in per_doc.items():
        acc = 0.0
        for _, idf in sorted(hits):
            acc = acc + idf
        scored.append((-acc, doc, len(hits)))
    scored.sort()
    want = {
        doc: (rk + 1, nh, -negs)
        for rk, (negs, doc, nh) in enumerate(scored[: T.INDEX_SEARCH_TOPK])
    }
    got = {
        r["doc_id"]: (r["rank"], r["n_hits"], r["score"])
        for r in T.index_search(docs).collect()
    }
    assert got == want


def test_doc_outline_matches_python_rle(spark):
    """Signatures equal a pure-Python run-length encoding of each
    doc's ordered kind sequence; family sizes account for every doc;
    n_spans equals the signature's own run-length sum."""
    from pdf_ocr_comparison_tool_spark.operators import extraction
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    ex = extraction.exploded_spans(synth.spans_df(spark, SF_DIR_001))
    seqs: dict = {}
    for r in ex.select("doc_id", "ord", "kind").collect():
        seqs.setdefault(r["doc_id"], []).append((r["ord"], r["kind"]))
    want: dict[str, list] = {}
    for doc, spans in seqs.items():
        kinds = [k for _, k in sorted(spans)]
        parts, run = [], 1
        for a, b in zip(kinds, kinds[1:] + [None]):
            if a == b:
                run += 1
            else:
                parts.append(f"{a[0]}{run}")
                run = 1
        want.setdefault(",".join(parts), []).append(doc)
    rows = extraction.doc_outline(ex).collect()
    assert {r["signature"] for r in rows} == set(want)
    for r in rows:
        fam = want[r["signature"]]
        assert r["n_docs"] == len(fam)
        assert r["example_doc"] == min(fam)
        assert r["n_spans"] == sum(
            int(p[1:]) for p in r["signature"].split(",")
        )
    assert sum(r["n_docs"] for r in rows) == len(seqs)


def test_vocab_growth_nested_and_exact_at_full(spark):
    """Checkpoints are nested (all three measures nondecreasing in k);
    the k=16 row equals exact full-corpus totals recomputed in
    Python."""
    import re as _re

    from pdf_ocr_comparison_tool_spark.operators import textstats as T
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    rows = sorted(
        T.vocab_growth(docs).collect(), key=lambda r: r["buckets"]
    )
    assert [r["buckets"] for r in rows] == sorted(T.VOCAB_GROWTH_CKPTS)
    for a, b in zip(rows, rows[1:]):
        assert a["n_docs"] <= b["n_docs"]
        assert a["n_tokens"] <= b["n_tokens"]
        assert a["n_distinct"] <= b["n_distinct"]
    n_docs = 0
    n_tokens = 0
    vocab = set()
    for r in docs.select("text").collect():
        n_docs += 1
        toks = [
            t
            for t in _re.split(r"[^a-z0-9]+", r["text"].lower())
            if len(t) >= 2
        ]
        n_tokens += len(toks)
        vocab |= set(toks)
    full = rows[-1]
    assert (full["n_docs"], full["n_tokens"], full["n_distinct"]) == (
        n_docs,
        n_tokens,
        len(vocab),
    )


def test_active_users_rolling_window_semantics(spark):
    """WAU(day) counts exactly the users active in [day-6, day]; DAU ≤
    WAU; stickiness ∈ (0, 1]; recomputed from the raw events in pure
    Python."""
    from pdf_ocr_comparison_tool_spark.operators import reports
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    ev = synth.load_table(spark, SF_DIR_001, "events")
    act: dict[int, set[int]] = {}
    for r in ev.selectExpr(
        "user_id", "unix_timestamp(ts) DIV 86400 AS day"
    ).collect():
        act.setdefault(r["day"], set()).add(r["user_id"])
    rows = reports.active_users(ev).collect()
    assert {r["day"] for r in rows} == set(act)
    for r in rows:
        d = r["day"]
        wau_set = set()
        for back in range(reports.WAU_DAYS):
            wau_set |= act.get(d - back, set())
        assert r["dau"] == len(act[d])
        assert r["wau"] == len(wau_set)
        assert r["dau"] <= r["wau"]
        assert r["stickiness"] == r["dau"] / float(r["wau"])
        assert 0.0 < r["stickiness"] <= 1.0


def test_rate_outliers_matches_python_stats(spark):
    """mean/std/flag recompute exactly from Python counts with the
    same op order; flagged users really sit above mean + 3σ."""
    import math

    from pdf_ocr_comparison_tool_spark.operators import reports
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    ev = synth.load_table(spark, SF_DIR_001, "events")
    counts: dict[int, int] = {}
    for r in ev.select("user_id").collect():
        counts[r["user_id"]] = counts.get(r["user_id"], 0) + 1
    nu = float(len(counts))
    s1 = float(sum(counts.values()))
    s2 = float(sum(c * c for c in counts.values()))
    mean = s1 / nu
    std = math.sqrt(s2 / nu - mean * mean)
    rows = reports.rate_outliers(ev).collect()
    assert len(rows) == len(counts)
    for r in rows:
        assert r["n"] == counts[r["user_id"]]
        assert r["mean_n"] == mean and r["std_n"] == std
        assert r["outlier"] == (
            float(r["n"]) > mean + reports.RATE_SIGMA * std
        )


def test_zorder_keys_interleave_and_locality(spark):
    """z equals a pure-Python Morton interleave of (zx, zy); the
    locality property holds: any single-value predicate on either
    dimension touches at most half the files a random scatter would
    (the point of Z-ORDER vs a one-key sort)."""
    from pdf_ocr_comparison_tool_spark.operators import pipeline as P
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    rows = P.zorder_keys(docs).collect()
    assert rows

    def morton(x: int, y: int) -> int:
        z = 0
        for i in range(P.ZORDER_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    dim = 1 << P.ZORDER_BITS
    files_per_x: dict[int, set[int]] = {}
    for r in rows:
        assert 0 <= r["zx"] < dim and 0 <= r["zy"] < dim
        assert r["z"] == morton(r["zx"], r["zy"])
        assert r["file_bucket"] == r["z"] // ((dim * dim) // P.ZORDER_FILES)
        files_per_x.setdefault(r["zx"], set()).add(r["file_bucket"])
    # one source-hash value can land in at most dim/(per_file)... the
    # interleave bounds a fixed-x stripe to sqrt-ish file spread: with
    # 64 files over a 256x256 grid, a fixed x touches <= 32 files
    # (vs all 64 under a y-major sort)
    assert all(len(f) <= P.ZORDER_FILES // 2 for f in files_per_x.values())


def test_skew_report_accounting(spark):
    """Ranks are dense from 1 in (n desc, key asc) order; shares and
    x_mean recompute exactly from a Python count of the same column."""
    from pdf_ocr_comparison_tool_spark.plans.skew import key_skew_report
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    ev = synth.load_table(spark, SF_DIR_001, "events")
    counts: dict[str, int] = {}
    for r in ev.select("user_id").collect():
        k = str(r["user_id"])
        counts[k] = counts.get(k, 0) + 1
    total, n_keys = sum(counts.values()), len(counts)
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = sorted(
        key_skew_report(ev, "user_id").collect(), key=lambda r: r["rank"]
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for r, (k, n) in zip(rows, want):
        assert (r["key_value"], r["n"]) == (k, n)
        assert r["n_total"] == total and r["n_keys"] == n_keys
        assert r["share"] == n / float(total)
        assert r["x_mean"] == (n * n_keys) / float(total)


def test_bm25_search_matches_python_scoring(spark):
    """BM25 result equals a pure-Python recompute with the identical
    op order (rational idf, TF saturation, length normalization,
    gram-ordered fold); saturation really bites — every term is
    strictly below its unsaturated idf·(k1+1) ceiling."""
    import re as _re

    from pdf_ocr_comparison_tool_spark.operators import textstats as T
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    n = 3
    tf: dict[tuple, int] = {}
    dl: dict[int, int] = {}
    for doc, text in texts.items():
        toks = [
            t for t in _re.split(r"[^a-z0-9]+", text.lower()) if len(t) >= 2
        ]
        dl[doc] = len(toks)
        for i in range(max(len(toks) - n + 1, 0)):
            g = " ".join(toks[i : i + n])
            tf[(doc, g)] = tf.get((doc, g), 0) + 1
    df: dict[str, int] = {}
    for (_, g), _c in tf.items():
        df[g] = df.get(g, 0) + 1
    band = {
        g: c for g, c in df.items() if T.INDEX_DF_MIN <= c <= T.INDEX_DF_CAP
    }
    qset = dict(
        sorted(band.items(), key=lambda kv: (-kv[1], kv[0]))[
            : T.INDEX_QUERY_GRAMS
        ]
    )
    n_total = len(texts)
    sum_dl = sum(dl.values())
    avgdl = float(sum_dl) / float(n_total)
    k1p1 = T.BM25_K1 + 1.0
    omb = 1.0 - T.BM25_B
    per_doc: dict[int, list[tuple[str, float]]] = {}
    for (doc, g), c in tf.items():
        if g in qset:
            idf = float(n_total) / float(qset[g])
            term = idf * (
                (float(c) * k1p1)
                / (float(c) + T.BM25_K1 * (omb + T.BM25_B * (float(dl[doc]) / avgdl)))
            )
            assert term < idf * k1p1
            per_doc.setdefault(doc, []).append((g, term))
    scored = []
    for doc, hits in per_doc.items():
        acc = 0.0
        for _, term in sorted(hits):
            acc = acc + term
        scored.append((-acc, doc, len(hits)))
    scored.sort()
    want = {
        doc: (rk + 1, nh, -negs)
        for rk, (negs, doc, nh) in enumerate(scored[: T.INDEX_SEARCH_TOPK])
    }
    got = {
        r["doc_id"]: (r["rank"], r["n_hits"], r["score"])
        for r in T.bm25_search(docs).collect()
    }
    assert got == want


def test_dsir_sample_threshold_semantics(spark):
    """keep_rate = min(1, avg_lr/SCALE) (0 for featureless docs); the
    verdict is exactly the md5-bucket threshold test, recomputed in
    pure Python per row."""
    import hashlib

    from pdf_ocr_comparison_tool_spark.operators import textstats as T
    from pdf_ocr_comparison_tool_spark.operators.pipeline import _SAMPLE_RES
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    for r in T.dsir_sample(docs).collect():
        if r["avg_lr"] is None:
            assert r["keep_rate"] == 0.0 and not r["sampled"]
            continue
        assert r["keep_rate"] == min(1.0, r["avg_lr"] / T.DSIR_SAMPLE_SCALE)
        h = (
            int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
            % _SAMPLE_RES
        )
        assert r["sampled"] == (float(h) < r["keep_rate"] * _SAMPLE_RES)


def test_event_transitions_accounting(spark):
    """Every event contributes exactly one from-row (terminal
    included): Σn == n_events; per from_type Σp == 1 exactly as a
    rational; hand-checked transitions on a constructed stream."""
    from pdf_ocr_comparison_tool_spark.operators import reports

    rows = [
        # user 1: a -> b -> a -> <end>
        (1, 1, "a", "2024-01-01 00:00:00"),
        (2, 1, "b", "2024-01-01 00:01:00"),
        (3, 1, "a", "2024-01-01 00:02:00"),
        # user 2: b -> b -> <end>; same-ts tie broken by event_id
        (4, 2, "b", "2024-01-01 00:00:00"),
        (5, 2, "b", "2024-01-01 00:00:00"),
    ]
    ev = spark.createDataFrame(
        [(e, u, t, ts) for e, u, t, ts in rows],
        "event_id long, user_id long, event_type string, ts string",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts AS TIMESTAMP_NTZ) AS ts", "CAST(1.0 AS DOUBLE) AS value",
    )
    out = {
        (r["from_type"], r["to_type"]): r
        for r in reports.event_transitions(ev).collect()
    }
    assert {k: v["n"] for k, v in out.items()} == {
        ("a", "b"): 1,
        ("b", "a"): 1,
        ("a", reports.TRANSITION_END): 1,
        ("b", "b"): 1,
        ("b", reports.TRANSITION_END): 1,
    }
    assert sum(v["n"] for v in out.values()) == len(rows)
    from fractions import Fraction

    by_from: dict[str, Fraction] = {}
    for (f_, _), v in out.items():
        assert v["p"] == v["n"] / float(v["n_from"])
        by_from[f_] = by_from.get(f_, Fraction(0)) + Fraction(
            v["n"], v["n_from"]
        )
    assert all(s == 1 for s in by_from.values())


def test_triangle_count_matches_bruteforce(spark):
    """Per-node triangle counts equal a brute-force recount over the
    same undirected kNN edge list; Σn_tri == 3 × (#triangles);
    coefficient is 2T/(deg(deg-1)) and NULL exactly below degree 2."""
    from itertools import combinations

    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    und = {
        (min(r["vec_id"], r["nbr_id"]), max(r["vec_id"], r["nbr_id"]))
        for r in ss.knn_join(emb).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri: dict[int, int] = {}
    n_total = 0
    for v, nbrs in adj.items():
        for x, y in combinations(sorted(nbrs), 2):
            if y in adj.get(x, set()):
                tri[v] = tri.get(v, 0) + 1
                n_total += 1
    n_total //= 3  # each triangle seen once per vertex
    rows = ss.triangle_count(emb).collect()
    assert {r["vec_id"] for r in rows} == set(adj)
    assert sum(r["n_tri"] for r in rows) == 3 * n_total
    for r in rows:
        v = r["vec_id"]
        assert r["degree"] == len(adj[v])
        assert r["n_tri"] == tri.get(v, 0)
        if r["degree"] < 2:
            assert r["clustering_coef"] is None
        else:
            want = 2.0 * r["n_tri"] / float(r["degree"] * (r["degree"] - 1))
            assert r["clustering_coef"] == want
            assert 0.0 <= r["clustering_coef"] <= 1.0


def test_pagerank_matches_pure_python_power_iteration(spark):
    """The distributed loop equals a pure-Python GraphX-semantics
    power iteration over the same kNN edge list, bit-for-bit (same
    src-ordered fold); no-inbound nodes sit exactly at the reset
    value; every rank is >= reset."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    edges = [
        (r["vec_id"], r["nbr_id"]) for r in ss.knn_join(emb).collect()
    ]
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {n: 1.0 for n in nodes}
    for _ in range(ss.PAGERANK_ITERS):
        inc: dict[int, list[tuple[int, float]]] = {}
        for s, dst in edges:
            inc.setdefault(dst, []).append((s, r[s] / float(out[s])))
        nxt = {}
        for n in nodes:
            acc = 0.0
            for _, contrib in sorted(inc.get(n, [])):
                acc = acc + contrib
            nxt[n] = ss.PAGERANK_RESET + ss.PAGERANK_DAMP * acc
        r = nxt
    got = {
        row["vec_id"]: row["rank_score"]
        for row in ss.pagerank_centrality(emb).collect()
    }
    assert got == r
    no_in = nodes - {d for _, d in edges}
    for n in no_in:
        assert got[n] == ss.PAGERANK_RESET
    assert all(v >= ss.PAGERANK_RESET for v in got.values())


def test_hash_embed_unit_norm_and_recompute(spark):
    """Every emitted document vector is unit-L2; sparse rows match a
    pure-Python recompute of the hashing trick (same md5 48-bit hash,
    bucket = h % dim, sign = (h // dim) % 2); empty docs emit
    nothing."""
    import hashlib
    import re

    from pdf_ocr_comparison_tool_spark.operators import textstats as T

    texts = [
        "alpha beta gamma alpha alpha",
        "delta epsilon",
        "",
        "!!! ??",  # tokenizes to nothing
        "alpha alpha alpha",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    dim = T.HASH_EMBED_DIM
    want: dict[tuple[int, int], int] = {}
    for i, t in enumerate(texts):
        for tok in re.split(r"[^a-z0-9]+", t.lower()):
            if len(tok) >= 2:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16)
                sign = 1 if (h // dim) % 2 == 0 else -1
                want[(i, h % dim)] = want.get((i, h % dim), 0) + sign
    want = {k: v for k, v in want.items() if v != 0}
    rows = T.hash_embed(docs).collect()
    assert {(r["doc_id"], r["dim"]): r["val"] for r in rows} == want
    by_doc: dict[int, float] = {}
    for r in rows:
        assert 0 <= r["dim"] < dim
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0.0) + r["weight"] ** 2
    assert set(by_doc) == {0, 1, 4}
    for doc, sq in by_doc.items():
        assert abs(sq - 1.0) < 1e-12, (doc, sq)


def test_props_rollup_null_band_and_accounting(spark):
    """Malformed JSON / missing key lands in the NULL band (never
    fails the job); per-group accounting: n_events sums to input rows,
    avg*n == sum, banding is floor(k/width)."""
    from pdf_ocr_comparison_tool_spark.operators import reports

    rows = [
        (1, "purchase", 10.0, '{"k": 7}'),
        (2, "purchase", 20.0, '{"k": 13}'),
        (3, "purchase", 30.0, '{"k": 17}'),
        (4, "click", 5.0, '{"other": 1}'),  # missing key -> NULL band
        (5, "click", 6.0, "not json"),      # malformed -> NULL band
        (1, "click", 7.0, None),            # NULL props -> NULL band
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, props string"
    )
    out = {
        (r["event_type"], r["k_band"]): r
        for r in reports.props_rollup(ev).collect()
    }
    assert set(out) == {("purchase", 0), ("purchase", 1), ("click", None)}
    assert sum(r["n_events"] for r in out.values()) == len(rows)
    nb = out[("click", None)]
    assert nb["n_events"] == 3 and nb["n_users"] == 3
    assert abs(nb["sum_value"] - 18.0) < 1e-9
    for r in out.values():
        assert abs(r["avg_value"] * r["n_events"] - r["sum_value"]) < 1e-9
    assert out[("purchase", 1)]["n_events"] == 2  # k=13 and k=17


def test_hard_negatives_invariants(spark):
    """Every mined negative has a mismatched label and sim below the
    false-negative guard; ranks are dense 1..m (m ≤ k) per anchor in
    sim-desc order; and the set per anchor really is the best-k among
    ALL label-mismatched candidate pairs (recomputed off _knn_pairs)."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as ss
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    emb = synth.load_table(spark, SF_DIR_001, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    cand: dict[int, list[tuple[float, int]]] = {}
    for r in ss._knn_pairs(emb).collect():
        if (
            labels[r["nbr_id"]] != labels[r["vec_id"]]
            and r["sim"] < ss.HARDNEG_MAX_SIM
        ):
            cand.setdefault(r["vec_id"], []).append((-r["sim"], r["nbr_id"]))
    out: dict[int, list] = {}
    for r in ss.hard_negatives(emb).collect():
        assert r["label"] == labels[r["vec_id"]]
        assert r["neg_label"] == labels[r["neg_id"]]
        assert r["neg_label"] != r["label"]
        assert r["sim"] < ss.HARDNEG_MAX_SIM
        out.setdefault(r["vec_id"], []).append(r)
    assert out and set(out) == set(cand)
    for vid, rows in out.items():
        rows.sort(key=lambda r: r["neg_rank"])
        assert [r["neg_rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= ss.HARDNEG_K
        want = sorted(cand[vid])[: ss.HARDNEG_K]
        assert [(-r["sim"], r["neg_id"]) for r in rows] == want


def test_dsir_weights_separates_target_like_docs(spark):
    """A raw doc sharing its bigrams with the target corpus must score
    a higher mean likelihood ratio than a raw doc with disjoint
    vocabulary; empty raw docs keep a row with n_feat=0, unselected."""
    from pdf_ocr_comparison_tool_spark.operators import textstats as T

    tgt_text = "alpha beta gamma delta epsilon alpha beta gamma"
    rows = (
        [(i, tgt_text, T.DSIR_TARGET_SOURCES[0]) for i in range(5)]
        + [(10, "alpha beta gamma delta", "srcRAW")]
        + [(11, "zeta eta theta iota kappa", "srcRAW")]
        + [(12, "", "srcRAW")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in T.dsir_weights(docs).collect()}
    assert set(out) == {10, 11, 12}  # raw pool only
    assert out[10]["avg_lr"] > out[11]["avg_lr"]
    assert out[10]["selected"] and not out[11]["selected"]
    assert out[12]["n_feat"] == 0 and out[12]["selected"] is False
    assert out[12]["avg_lr"] is None


def test_tokenizer_fertility_invariants(spark):
    """Every word emits >= 1 subword, so per-lang fertility >= 1 and
    total subwords >= total words; every corpus lang is present."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import bpe
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    out = bpe.tokenizer_fertility(docs).collect()
    assert {r["lang"] for r in out} == {
        r["lang"] for r in docs.select("lang").distinct().collect()
    }
    for r in out:
        assert r["n_subwords"] >= r["n_words"]
        if r["n_words"] > 0:
            assert r["fertility"] >= 1.0


def test_mixture_drift_shares_balance(spark):
    """Each snapshot's shares sum to 1; drift sums to ~0; doc counts
    reconcile with the snapshot filters."""
    from pdf_ocr_comparison_tool_spark.queries import q_mixture_drift
    from tests.conftest import SF_DIR_001

    rows = q_mixture_drift(spark, SF_DIR_001).collect()
    assert abs(sum(r["share_old"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["share_new"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["drift"] for r in rows)) < 1e-9


def test_contamination_report_accounts_every_doc(spark):
    """Per-source doc counts sum to the corpus size; rates in [0,1];
    contaminated <= docs per source."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import dedup
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    rows = dedup.contamination_report(docs).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_docs"]
        assert 0.0 <= r["contamination_rate"] <= 1.0
        assert 0.0 <= r["worst_overlap"] <= 1.0


def test_collocations_lift_and_cut_determinism(spark):
    """Top-N collocations: all pair counts >= min support; lift
    strictly positive; the N-th row's (lift, prev, cur) tie-break makes
    the cut deterministic across two executions."""
    from pdf_ocr_comparison_tool_spark.operators import textstats as T
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    a = T.collocations(docs).collect()
    b = T.collocations(docs).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) <= T.COLLOC_TOP
    for r in a:
        assert r["c_big"] >= T.COLLOC_MIN_COUNT
        assert r["lift"] > 0.0


def test_inverted_index_postings_sound(spark):
    """Every posting list length equals its df, lies inside the band,
    is sorted, and each listed doc really contains the phrase."""
    from pdf_ocr_comparison_tool_spark.operators import textstats as T
    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    rows = T.inverted_index(docs).collect()
    assert rows
    texts = {r["doc_id"]: r["text"].lower() for r in docs.collect()}
    import re
    for r in rows[:50]:
        ids = [int(x) for x in r["postings"].split(",")]
        assert len(ids) == r["df"]
        assert T.INDEX_DF_MIN <= r["df"] <= T.INDEX_DF_CAP
        assert ids == sorted(ids)
        for i in ids[:3]:
            toks = [t for t in re.split(r"[^a-z0-9]+", texts[i]) if len(t) >= 2]
            grams = {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}
            assert r["token"] in grams


@_FAST
@given(
    st.lists(
        st.text(alphabet="abe theo <a>\n记.!#'\"", min_size=0, max_size=80),
        min_size=1,
        max_size=6,
    )
)
def test_boilerplate_strip_total_on_arbitrary_text(spark, texts):
    """The html derivation + strip is TOTAL: for arbitrary document
    text (newlines, CJK, quote/angle/markup fragments, empty), every
    doc yields exactly 3 + doc_id % 6 parsed blocks, classes always
    land in the closed sets, and the char accounting balances."""
    from pdf_ocr_comparison_tool_spark import htmlgen as H
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import boilerplate as B

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    cls = B.classify_blocks(B.parse_blocks(synth.html_from_docs(docs))).cache()
    rows = cls.collect()
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
        assert r.cf_class in {"bad", "short", "good", "near_good"}
        assert r.final_class in {"content", "boilerplate"}
        assert r.n_links >= 0 and r.text_chars >= 0
    assert per_doc == {
        i: 3 + i % H.HB_NBLOCK_MOD for i in range(len(texts))
    }
    out = B.main_content(cls).collect()
    for r in out:
        assert r.n_blocks == 3 + r.doc_id % H.HB_NBLOCK_MOD
        assert r.content_chars + r.boiler_chars == sum(
            x.text_chars for x in rows if x.doc_id == r.doc_id
        )
    cls.unpersist()


@_FAST
@given(st.lists(st.sampled_from("ab cd ef gh ij kl".split()), max_size=40))
def test_overlap_chunk_ownership(spark, words):
    """Sliding-window chunking invariants on arbitrary token streams:
    every token lands in chunk pos//stride and, when it exists, also
    in the previous chunk iff pos < prev*stride + chunk — i.e. exactly
    the enumerated ownership set; chunk sizes never exceed the window
    and consecutive chunk texts overlap by stride except at the tail."""
    from pdf_ocr_comparison_tool_spark.operators import pipeline as pl

    text = " ".join(words)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunk = pl.CHUNK_TOKENS
    stride = chunk // pl.CHUNK_STRIDE_DEN
    out = {
        r.chunk_idx: r for r in pl.doc_chunks_overlap(docs).collect()
    }
    toks = [w for w in text.lower().split() if len(w) >= 2]
    expected: dict[int, list[str]] = {}
    for pos, tok in enumerate(toks):
        for j in range((chunk + stride - 1) // stride):
            idx = pos // stride - j
            if idx >= 0 and pos < idx * stride + chunk:
                expected.setdefault(idx, []).append(tok)
    assert set(out) == set(expected)
    for idx, exp_toks in expected.items():
        assert out[idx].n_tokens == len(exp_toks) <= chunk
        assert out[idx].chunk_text == " ".join(exp_toks)
