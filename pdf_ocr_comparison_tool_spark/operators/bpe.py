"""Distributed BPE tokenizer TRAINING (Sennrich et al. 2016) — the
merge-table fit every subword tokenizer ships with, expressed as pure
DataFrame dataflow:

* classic BPE trains on the WORD-FREQUENCY table, not the raw corpus —
  the initial corpus-wide word count is the only full-scan stage; every
  merge iteration runs over (vocab-size × word-length) symbol rows,
  orders of magnitude smaller than the corpus at 100 TB;
* each unrolled iteration: adjacent symbol pairs via a shifted-zip over
  the per-word symbol array (narrow — no positional explode, no
  per-word window), corpus-weighted pair counts (map-side combinable
  groupBy — the iteration's ONLY exchange), the argmax pair as a
  ONE-ROW frame (orderBy+limit-1 = TakeOrderedAndProject; ties break
  lexicographically so the fit is deterministic), then the greedy
  leftmost merge applied as a NARROW left-to-right array fold per word
  (the reference algorithm's exact while-loop semantics, including the
  odd-run behaviour on self-overlapping pairs).

Each iteration materializes its (tiny) state and argmax frames —
the CC pattern: without the cut, every iteration's plan TREE embeds ~4
copies of the previous one (Catalyst sees trees, not DAGs) and 6
merges compile 4^6 subtrees. Values are unaffected, so the DuckDB
oracle remains the same unrolled CTE chain; superseded checkpoints are
released as in connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize, release
from .dedup import tokens_col

BPE_MERGES = 6


def word_freqs(docs: DataFrame) -> DataFrame:
    """Corpus-wide word frequency table (the BPE training input)."""
    return (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _pair_counts(state: DataFrame) -> DataFrame:
    """(sym, nxt, pf) corpus-weighted adjacent-pair counts, built
    NARROWLY from the per-word symbol array: the successor array is a
    shifted slice zipped against the original (each derived array is
    the HOF's input — the single-evaluation rule), so no per-word
    window and no positional explode+lead shuffle exists; the only
    exchange is the map-side-combinable pair groupBy."""
    nxt = F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0)))
    pairs = F.filter(
        F.zip_with(
            "syms",
            nxt,
            lambda a, b: F.when(
                b.isNotNull(), F.struct(a.alias("sym"), b.alias("nxt"))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        state.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.sym").alias("sym"), F.col("p.nxt").alias("nxt"))
        .agg(F.sum("freq").alias("pf"))
    )


def _apply_merge(state: DataFrame, best: DataFrame) -> DataFrame:
    """One greedy-leftmost merge of the argmax pair, as a NARROW
    left-to-right array fold per word (the exact reference semantics —
    bpe_fit_py's while loop): walk positions 1..n carrying (out,
    skip); a matched (bl, br) at i emits the merged symbol and consumes
    i+1, which also yields the odd-run behaviour on self-overlapping
    pairs ('aaaa' + 'aa' → 'aa','aa'). Replaces the previous
    relational form (posexplode + 3 windows + 2 joins + ordered
    rebuild — five shuffles of the symbol rows per iteration) with
    zero shuffles; returns the next (word, freq, syms)."""
    syms = F.col("syms")
    merged = F.concat(F.col("bl"), F.col("br"))
    folded = F.aggregate(
        F.sequence(F.lit(1), F.size(syms)),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(0).alias("skip"),
        ),
        lambda acc, i: F.when(
            i == acc["skip"],
            F.struct(acc["out"].alias("out"), F.lit(0).alias("skip")),
        )
        .when(
            (F.element_at(syms, i) == F.col("bl"))
            & F.coalesce(
                F.try_element_at(syms, i + F.lit(1)) == F.col("br"),
                F.lit(False),
            ),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                (i + F.lit(1)).alias("skip"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(F.element_at(syms, i))).alias(
                    "out"
                ),
                F.lit(0).alias("skip"),
            )
        ),
        lambda acc: acc["out"],
    )
    return state.crossJoin(F.broadcast(best)).select(
        "word", "freq", folded.alias("syms")
    )


def _run_merges(
    docs: DataFrame, n_merges: int, wf: DataFrame | None = None
) -> tuple[list[DataFrame], DataFrame]:
    """The shared fit loop: returns (per-iteration merge frames, FINAL
    (word, freq, syms) state). The final state is a live checkpoint —
    bpe_fit releases it (unused there); bpe_encode's result depends on
    it, so there it lives until the caller's scope closes (the
    materialize.py contract). Pass a precomputed ``wf`` (word_freqs
    frame) to skip the corpus tokenization pass (``--job tokenize``
    shares one across fit + vocab)."""
    if wf is None:
        wf = word_freqs(docs)
    state = materialize(
        wf.select("word", "freq", F.split(F.col("word"), "").alias("syms"))
    )
    merges = []
    for i in range(1, n_merges + 1):
        cnt = _pair_counts(state)
        best = materialize(
            cnt.orderBy(F.desc("pf"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .select(
                F.col("sym").alias("bl"),
                F.col("nxt").alias("br"),
                F.col("pf").alias("pair_freq"),
            )
        )
        merges.append(
            best.select(
                F.lit(i).cast("long").alias("merge_rank"),
                F.col("bl").alias("lhs"),
                F.col("br").alias("rhs"),
                F.concat("bl", "br").alias("merged"),
                F.col("pair_freq").cast("long").alias("pair_freq"),
            )
        )
        new_state = materialize(_apply_merge(state, best))
        release(state)
        state = new_state
    return merges, state


def bpe_fit(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Train ``n_merges`` BPE merges on the corpus; emits the merge
    table (merge_rank, lhs, rhs, merged, pair_freq) — the artifact a
    subword tokenizer loads. Deterministic: ties on pair frequency
    break lexicographically."""
    if n_merges <= 0:
        # degenerate case, same as the Python reference bpe_fit_py:
        # an empty merge table with the standard schema
        return docs.sparkSession.createDataFrame(
            [],
            "merge_rank long, lhs string, rhs string, "
            "merged string, pair_freq long",
        )

    merges, state = _run_merges(docs, n_merges)
    release(state)
    return _union_merges(merges)


def _union_merges(merges: list) -> DataFrame:
    """Per-iteration merge frames → the single merge table (shared by
    bpe_fit and the tokenize CLI job)."""
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionByName(mdf)
    return out


def bpe_encode(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Tokenize the corpus with the trained merge table — the APPLY
    step every pretraining run does after the fit. Classic dictionary
    encode: the ``n_merges`` merges run once over the word VOCABULARY
    (the same relational greedy-leftmost `_apply_merge` the fit uses —
    vocab-sized, not corpus-sized), then each word OCCURRENCE joins to
    its subword sequence. Output: one row per subword token,
    (doc_id, ord = word position, sub = subword position within the
    word, subword).

    Scale shape: the corpus-sized side only ever carries (doc_id, ord,
    word) rows through ONE equi-join against the encoded vocab; the
    merge iterations themselves touch vocab × word-length symbol rows.
    The join is pinned sort-merge (``hint("merge")``): BOTH sides are
    unbounded — the occurrence side is the corpus, and a web-scale
    word vocabulary is heavy-tailed past broadcast size — so the
    scale-true plan shuffles on ``word`` and lets AQE split hot-word
    probe skew (one build row per key streams fine). Without the pin,
    Catalyst sees the checkpointed vocab as stats-unknown and
    broadcasts the CORPUS side at test scale — the exact inversion
    that would ship 10^12 rows to every executor at 100 TB.
    """
    if n_merges <= 0:
        state = word_freqs(docs).select(
            "word", F.split(F.col("word"), "").alias("syms")
        )
    else:
        _, state = _run_merges(docs, n_merges)
    return encode_with_state(docs, state)


def encode_with_state(docs: DataFrame, state: DataFrame) -> DataFrame:
    """Encode ``docs`` against an already-fitted (word, syms) vocab
    state — the multi-consumer path (``--job tokenize`` fits once and
    feeds this plus the artifact tables). See :func:`bpe_encode` for
    the join-shape rationale.

    Contract: the state must cover every word of ``docs`` (true
    whenever the state was fitted on the same corpus, as all current
    callers do) — the inner join silently DROPS out-of-vocabulary
    words, leaving gaps in the ``ord`` sequence. Encoding a NEW shard
    against a saved vocab needs an OOV policy first (e.g. left join +
    char-split fallback for unmatched words), which is a semantics
    change the oracle would have to mirror."""
    rows = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("ord", "word")
    )
    return (
        rows.join(state.select("word", "syms").hint("merge"), "word")
        .select("doc_id", "ord", F.posexplode("syms").alias("sub", "subword"))
        .select(
            "doc_id",
            F.col("ord").cast("long").alias("ord"),
            F.col("sub").cast("long").alias("sub"),
            "subword",
        )
    )


def bpe_vocab(
    docs: DataFrame,
    merges: DataFrame | None = None,
    wf: DataFrame | None = None,
) -> DataFrame:
    """The loadable tokenizer VOCAB artifact (what a trainer ships
    next to the merge table): base characters first — ranked
    lexicographically, ids 0..C-1, weight = corpus occurrence count —
    then the merged tokens in merge order, ids C..C+K-1, weight =
    pair frequency at merge time. Output: (token_id, token, kind
    'char'|'merge', weight). Pass an already-fitted ``merges`` table
    and/or a precomputed ``wf`` word-frequency frame to skip the
    internal refit / re-tokenization (``--job tokenize`` fits once for
    all three artifacts).

    Scale shape: char weights are one map-side-combinable groupBy over
    the word-frequency table (vocab-sized, not corpus-sized); the only
    window ranks the ALPHABET-bounded char frame (≤ |charset| rows at
    any corpus size), with C riding alongside via an unpartitioned
    count over the same tiny frame."""
    if wf is None:
        wf = word_freqs(docs)
    chars = (
        wf.select(F.explode(F.split("word", "")).alias("token"), "freq")
        .groupBy("token")
        .agg(F.sum("freq").cast("long").alias("weight"))
    )
    w = Window.orderBy("token")
    ranked = chars.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "token",
        F.lit("char").alias("kind"),
        "weight",
    )
    c_df = chars.agg(F.count("*").cast("long").alias("c"))
    merge_df = merges if merges is not None else bpe_fit(docs)
    merge_block = (
        merge_df
        .crossJoin(F.broadcast(c_df))
        .select(
            (F.col("c") + F.col("merge_rank") - 1).cast("long").alias("token_id"),
            F.col("merged").alias("token"),
            F.lit("merge").alias("kind"),
            F.col("pair_freq").cast("long").alias("weight"),
        )
    )
    return ranked.unionByName(merge_block)


def bpe_fit_py(word_freq: dict[str, int]) -> list:
    """Pure-Python reference BPE (test oracle): identical greedy-left
    merge + (freq desc, pair asc) tie-break."""
    state = {w: list(w) for w in word_freq}
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        counts: dict[tuple, int] = {}
        for w, syms in state.items():
            f = word_freq[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (bl, br), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, bl, br, bl + br, pf))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == bl and syms[i + 1] == br:
                    out.append(bl + br)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer FERTILITY of the trained BPE — subword
    tokens emitted per word, the standard multilingual tokenizer-equity
    diagnostic (a language with fertility 2.1 pays ~2.1× the compute
    and context budget per word of a fertility-1.0 language; reported
    before committing a vocab, next to token_coverage).

    Scale shape: the corpus-sized join carries only (doc_id, word)
    against the VOCAB's per-word subword COUNT — fertility never needs
    the exploded subword rows, so Σ|syms(word)| per doc replaces
    count-after-posexplode (the 2–3× subword fan-out and its positional
    columns never materialize; same pinned sort-merge join rationale as
    bpe_encode). Then a combiner-reduced per-doc sum, a narrow word
    count, and a groupBy on the tiny lang dim. Fertility is one
    int/int→double division per lang (bit-exact)."""
    _, state = _run_merges(docs, BPE_MERGES)
    occ = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("word")
    )
    n_sub = (
        occ.join(
            state.select("word", F.size("syms").cast("long").alias("ns")).hint(
                "merge"
            ),
            "word",
        )
        .groupBy("doc_id")
        .agg(F.sum("ns").alias("n_sub"))
    )
    words = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_words"),
    )
    per = words.join(n_sub, "doc_id", "left")
    sub_sum = F.sum(F.coalesce("n_sub", F.lit(0)))
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        sub_sum.cast("long").alias("n_subwords"),
        F.when(
            F.sum("n_words") > 0,
            sub_sum.cast("double") / F.sum("n_words").cast("double"),
        ).alias("fertility"),
    )
