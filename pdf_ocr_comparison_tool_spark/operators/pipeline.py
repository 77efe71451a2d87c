"""End-to-end training-corpus admission filter — the composed keep/drop
decision an LLM data pipeline actually keys on (C4 / Gopher style:
Raffel et al. 2020 §2.2, Rae et al. 2021 §A1): exact dedup, near-dup
cluster keep-policy, length, quality band, and repetition signals, each
already an oracled operator here, joined into one verdict per document.

Output: one row per doc — the signal columns, a ``drop_reason`` (first
failing stage in the fixed precedence below, NULL if admitted) and
``keep = drop_reason IS NULL``.

Precedence (mirrors the order a production pipeline applies the
stages — dedup first so a near-identical copy of a GOOD page is
dropped as a dup, not double-counted by the quality stages):

  1. exact_dup         — not the min doc_id of an identical-text group
  2. near_dup          — not the kept representative of its MinHash-LSH
                         cluster (connected components keep-policy)
  3. too_short         — fewer than MIN_TOKENS tokens
  4. low_quality       — 'low' quality band (textstats.text_quality)
  5. repetitive_2gram  — top word-2-gram covers > MAX_TOP2_FRAC of chars
  6. repetitive_3gram  — duplicate 3-gram fraction > MAX_DUP3_FRAC

Scale: every stage is the already-audited distributed shape (hash
groupBy, banded LSH + bounded verify, iterative min-label CC, narrow
array exprs); the final assembly is doc_id equi-joins of per-doc
single-row outputs — no new shuffle risk at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from . import dedup, textstats
from .features import hash_bucket, text_hash

# MIN_TOKENS deliberately below the 'low' quality band's 5-token edge:
# at 5 the low_quality stage would be fully shadowed by too_short
# (band 'low' ⇔ n_tokens < 5) — with 3, docs of 3-4 tokens reach the
# quality stage and the band check is live (test_pipeline asserts both)
MIN_TOKENS = 3
MAX_TOP2_FRAC = 0.20
MAX_DUP3_FRAC = 0.30


SPLIT_BUCKETS = 1000
SPLIT_TRAIN = 900  # buckets [0, 900) → train
SPLIT_VALID = 950  # buckets [900, 950) → valid; rest → test


def data_split(
    docs: DataFrame, passthrough: tuple[str, ...] = ("source",)
) -> DataFrame:
    """Deterministic train/valid/test assignment — the standard
    content-free holdout split of a training pipeline: bucket = first
    8 md5 hex chars of doc_id, mod SPLIT_BUCKETS. Pure function of the
    id — stable across engines, runs, partitionings and corpus growth
    (a doc never migrates between splits when new data arrives), unlike
    ``df.randomSplit`` whose assignment depends on partition layout.
    Narrow (no shuffle) at any scale. ``passthrough`` names extra
    columns to carry (default the documents table's ``source``; pass
    ``()`` for frames that don't have it)."""
    b = hash_bucket(F.col("doc_id"), SPLIT_BUCKETS)
    split = (
        F.when(b < SPLIT_TRAIN, F.lit("train"))
        .when(b < SPLIT_VALID, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id",
        *passthrough,
        b.cast("long").alias("bucket"),
        split.alias("split"),
    )


def split_leakage(docs: DataFrame) -> DataFrame:
    """Train/held-out LEAKAGE AUDIT — decontamination run across one's
    own split boundary (the check GPT-3 appendix C / The Pile report
    for their dev/test sets): per TRAIN-split document, how many
    test-split documents share word n-grams with it and the maximum
    fraction of any test doc's distinct n-grams it contains;
    ``contaminated`` at ≥ ``dedup.DECON_FRAC``. Splits are the deterministic
    :func:`data_split` assignment (pure function of doc_id), so the
    audit is reproducible without materializing the split.

    Scale shape = :func:`dedup.decontaminate`'s: distinct-gram rows
    both sides, equi-join on the FULL 128-bit gram md5 (48 bits would
    birthday-collide at 10^13 grams), test side is the small one (5%
    of corpus — AQE broadcasts it), map-side-combinable pair counts,
    LEFT JOIN keeps every train doc. Splits are disjoint so no
    self-pair filter is needed."""
    from .dedup import DECON_FRAC, DECON_NGRAM, _ngrams_col, tokens_col

    b = hash_bucket(F.col("doc_id"), SPLIT_BUCKETS)
    toks = tokens_col(F.col("text"))
    gh = F.md5(F.col("gram"))

    def dgrams(src: DataFrame) -> DataFrame:
        return src.select(
            "doc_id",
            F.explode(
                F.array_distinct(_ngrams_col(toks, DECON_NGRAM))
            ).alias("gram"),
        ).select("doc_id", gh.alias("h"))

    train = docs.filter(b < SPLIT_TRAIN)
    grams = dgrams(train)
    egrams = dgrams(docs.filter(b >= SPLIT_VALID)).select(
        F.col("doc_id").alias("eval_id"), "h"
    )
    etotals = egrams.groupBy("eval_id").agg(F.count("*").alias("n_eval_grams"))
    shared = (
        grams.join(egrams, "h")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
    )
    frac = F.col("n_shared").cast("double") / F.col("n_eval_grams").cast("double")
    per_doc = (
        shared.join(etotals, "eval_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_docs_hit"),
            F.max(frac).alias("max_overlap_frac"),
        )
    )
    return train.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_eval_docs_hit", F.lit(0)).cast("long").alias("n_eval_docs_hit"),
        F.coalesce("max_overlap_frac", F.lit(0.0)).alias("max_overlap_frac"),
        (F.coalesce("max_overlap_frac", F.lit(0.0)) >= DECON_FRAC).alias(
            "contaminated"
        ),
    )


def split_summary(assigned: DataFrame) -> DataFrame:
    """Stratification report over :func:`data_split` output — doc
    counts per (source, split), the mixture table a training job reads
    to weight its samplers. Tiny aggregate of an already-narrow input."""
    return assigned.groupBy("source", "split").agg(
        F.count("*").alias("n_docs")
    )


SOURCE_CAP = 20
_CAP_SALTS = 16


def source_cap_sample(docs: DataFrame) -> DataFrame:
    """Per-source document cap — the per-domain downsampling step of a
    training mixture (keep at most ``SOURCE_CAP`` docs per source): rank
    docs within each source by (md5(doc_id), doc_id) — a deterministic
    uniform shuffle, stable across runs and corpus growth for the docs
    already present — and keep rank ≤ SOURCE_CAP.

    Scale shape: two-phase salted ranking, same pattern as the blocking
    cap in matching.match_pages — a single per-source window would sort
    a billion-doc source on one reducer. Phase 1 ranks within (source,
    salt) cells (16-way spread), keeping ≤ SOURCE_CAP per cell; phase 2
    ranks the ≤ 16·SOURCE_CAP survivors per source. Any global top-cap
    row is top-cap within its cell, so the result is identical."""
    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(_CAP_SALTS))
    w1 = Window.partitionBy("source", salt).orderBy(h.asc(), F.col("doc_id").asc())
    phase1 = (
        docs.select("doc_id", "source")
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= SOURCE_CAP)
    )
    w2 = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        phase1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= SOURCE_CAP)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Temperature-based source mixture weights at α = 0.5 (the
    standard multilingual/multi-domain rebalancing, e.g. mT5's
    p^α sampling): a source with corpus share p gets relative sampling
    weight p^(α−1) = 1/√p — rare sources up-weighted, dominant ones
    down. α is fixed at 0.5 because √ is the one power IEEE rounds
    correctly, keeping the output bit-identical cross-engine (int/int
    share, one sqrt, one divide). Normalization to an actual
    probability is the consumer's step (it depends on which sources
    are admitted downstream)."""
    total = docs.groupBy().agg(F.count("*").alias("n_total"))
    per = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    frac = F.col("n_docs").cast("double") / F.col("n_total").cast("double")
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            frac.alias("corpus_frac"),
            (F.lit(1.0) / F.sqrt(frac)).alias("weight_rel"),
        )
    )


# rendezvous-sharding spec constants — shared with the oracle
# (oracles.shard_assign_sql); change both sides together.
SHARDS_BEFORE = 8
SHARDS_AFTER = 9


def shard_assign(docs: DataFrame) -> DataFrame:
    """Rendezvous (highest-random-weight) consistent sharding with a
    resize-movement audit: each document's shard is
    ``argmax over s of md5(doc_id ':' s)`` — so growing the fleet from
    ``SHARDS_BEFORE`` to ``SHARDS_AFTER`` shards moves ONLY the
    documents whose new shard wins the argmax (expected 1/S′ of the
    corpus), where modulo sharding would reshuffle (S′−1)/S′ of it.
    At 100 TB that is the difference between an incremental top-up and
    a full-corpus rewrite; ``moved`` is exactly the recompute set.

    Scale shape: entirely NARROW — the per-doc argmax is an array fold
    over S′ in-row candidates (array_max on (h, shard) structs; md5
    ties cannot occur), zero joins, zero shuffles, and the assignment
    is a pure function of doc_id (stable across runs and engines)."""

    def hrw(n: int):
        return F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda s: F.struct(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            s.cast("string"),
                        )
                    ).alias("h"),
                    s.cast("long").alias("shard"),
                ),
            )
        )["shard"]

    return (
        docs.select(
            "doc_id",
            hrw(SHARDS_BEFORE).alias("shard_before"),
            hrw(SHARDS_AFTER).alias("shard_after"),
        )
        .withColumn("moved", F.col("shard_before") != F.col("shard_after"))
    )


# token-budget planner spec constants — shared with the oracle
# (oracles.epochs_per_source_sql); change both sides together.
TOKEN_BUDGET = 1_000_000  # training-run token budget
EPOCH_CAP = 4  # data-constrained repeat ceiling (Muennighoff et al. '23)


def epochs_per_source(docs: DataFrame) -> DataFrame:
    """Token-budget planner — the step between :func:`mixture_weights`
    and a training run's dataloader config: per source its unique
    whitespace-token mass, the √-temperature share of the run's token
    ``TOKEN_BUDGET``, and the implied REPEAT EPOCHS (allocation ÷ unique
    tokens). Sources whose implied epochs exceed ``EPOCH_CAP`` are
    flagged and their effective allocation capped — the
    data-constrained-scaling rule of thumb (repeating data beyond ~4
    epochs returns ~nothing), which tells the mixture designer exactly
    how many tokens the cap hands back for re-allocation.

    Cross-engine exactness: integer token sums; the only float ops are
    one sqrt per source, a Σ√ folded in source order (the
    mixture_sample pattern), then one division / one multiplication /
    one division / one least — identical order both sides.

    Scale shape: one map-side-combinable groupBy(source) over narrow
    (source, n_ws) rows, a 1-row fold broadcast back — the corpus text
    itself never shuffles."""
    n_ws = F.size(
        F.filter(
            F.split(F.col("text"), r"[ \t\n\x0B\f\r]+"), lambda t: t != ""
        )
    )
    per = (
        docs.select("source", n_ws.cast("long").alias("n_ws"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_ws").cast("long").alias("src_tokens"),
        )
    )
    tot = per.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "src_tokens"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["src_tokens"].cast("double")),
        ).alias("sum_sqrt")
    )
    toks_d = F.col("src_tokens").cast("double")
    share = F.sqrt(toks_d) / F.col("sum_sqrt")
    alloc = share * F.lit(float(TOKEN_BUDGET))
    epochs = alloc / toks_d
    cap_d = F.lit(float(EPOCH_CAP))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "src_tokens",
        share.alias("share"),
        alloc.alias("alloc_tokens"),
        epochs.alias("epochs"),
        (epochs > cap_d).alias("over_cap"),
        F.least(alloc, cap_d * toks_d).alias("eff_tokens"),
    )


SAMPLE_TARGET = 300
_SAMPLE_RES = 1_000_000  # hash resolution for the keep threshold


def mixture_sample(docs: DataFrame) -> DataFrame:
    """Materialize the α=0.5 temperature mixture as an actual sampled
    corpus — the step between :func:`mixture_weights` and a training
    run: per source, a deterministic keep-probability
    ``p_s = min(1, share_s · SAMPLE_TARGET / n_s)`` where ``share_s ∝
    √(corpus share)`` (the same 1/√p up-weighting, normalized), applied
    as a pure hash-threshold test ``md5_bucket(doc_id) < p_s·RES``.

    Deterministic end to end: the keep decision is a function of
    (doc_id, source counts) only — stable across runs, partitionings
    and engines (vs ``df.sample`` whose outcome depends on partition
    layout and seed plumbing), and a doc stays sampled-in as long as
    its source's rate doesn't drop (monotone under budget growth).
    Scale shape: two tiny aggregates broadcast back onto a narrow
    scan — no shuffle of the corpus itself. Emits every doc with its
    rate and verdict (filter on ``sampled`` to materialize)."""
    per = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    tot = per.agg(
        F.sum("n_src").alias("n_total"),
        # Σ√(n_s) with the sources folded in name order — deterministic
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "n_src"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["n_src"].cast("double")),
        ).alias("sum_sqrt"),
    )
    # share_s = √n_s / Σ√n_t  (≡ normalized p^0.5 temperature sampling;
    # the √(n/N) shares' common 1/√N cancels in the normalization)
    rate = F.least(
        F.lit(1.0),
        (
            F.sqrt(F.col("n_src").cast("double")) / F.col("sum_sqrt")
            * F.lit(float(SAMPLE_TARGET))
            / F.col("n_src").cast("double")
        ),
    )
    rates = per.crossJoin(F.broadcast(tot)).select(
        "source", F.col("n_src").cast("long").alias("n_src"), rate.alias("keep_rate")
    )
    h = hash_bucket(F.col("doc_id"), _SAMPLE_RES)
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "n_src",
            "keep_rate",
            (h.cast("double") < F.col("keep_rate") * _SAMPLE_RES).alias(
                "sampled"
            ),
        )
    )


CHUNK_TOKENS = 64


def doc_chunks(docs: DataFrame) -> DataFrame:
    """Fixed-size token-window chunking — the long-document splitting
    step (context prep / RAG indexing): cut each doc's token stream
    every ``CHUNK_TOKENS`` tokens, emit (doc_id, chunk_idx, n_tokens,
    chunk_text).

    Shape: posexplode tokens → groupBy (doc, chunk_idx) → ordered
    reassembly of the ≤chunk-token group. The group key carries doc_id,
    so a hot document cannot concentrate on one reducer beyond its own
    chunk count, and the per-group arrays are bounded by ``CHUNK_TOKENS`` —
    safe at any corpus scale. (A per-doc HOF-slice formulation would
    re-evaluate the tokenizer once per chunk — the lambda-body
    re-evaluation rule — and is why this is relational.)"""
    toks = dedup.tokens_col(F.col("text"))
    pos = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    ).withColumn("chunk_idx", (F.col("pos") / CHUNK_TOKENS).cast("long"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    return pos.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").alias("n_tokens"),
        F.array_join(ordered, " ").alias("chunk_text"),
    )


CHUNK_STRIDE_DEN = 2  # overlap stride = CHUNK_TOKENS / 2 (50% overlap)


def doc_chunks_overlap(docs: DataFrame) -> DataFrame:
    """SLIDING-window chunking (RAG indexing shape): chunks of ``chunk``
    = ``CHUNK_TOKENS`` tokens every ``chunk // CHUNK_STRIDE_DEN`` tokens,
    so consecutive chunks overlap 50% and no query phrase straddles a
    hard boundary.

    Ownership is enumerated, never derived by division on a negative
    numerator: token at ``pos`` belongs to chunks ``pos DIV stride - j``
    for j in [0, chunk/stride) that satisfy ``idx >= 0 AND pos <
    idx*stride + chunk`` — all operands non-negative, so Spark's
    truncating DIV and DuckDB's flooring ``//`` agree (they DIVERGE on
    negatives — the cross-engine trap this shape avoids). Same bounded
    groupBy scale story as :func:`doc_chunks`, K× the rows (K = 2)."""
    chunk = CHUNK_TOKENS
    stride = chunk // CHUNK_STRIDE_DEN
    k = (chunk + stride - 1) // stride
    toks = dedup.tokens_col(F.col("text"))
    pos = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    owned = pos.select(
        "doc_id", "pos", "tok",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
    ).select(
        "doc_id", "pos", "tok",
        ((F.col("pos") / stride).cast("long") - F.col("j")).alias("chunk_idx"),
    ).filter(
        (F.col("chunk_idx") >= 0)
        & (F.col("pos") < F.col("chunk_idx") * stride + chunk)
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    return owned.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").alias("n_tokens"),
        F.array_join(ordered, " ").alias("chunk_text"),
    )


def corpus_stats(docs: DataFrame, lang_dim: DataFrame) -> DataFrame:
    """The dataset-card rollup: per (source, predicted language) —
    doc count, admitted count (corpus_filter verdict), and total
    whitespace tokens of the admitted docs. This is the table a
    training run publishes next to its data mix. One narrow join
    fan-in (all inputs keyed by doc_id) plus one small aggregate."""
    verdict = corpus_filter(docs).select("doc_id", "keep")
    lang = textstats.lang_id(docs, lang_dim).select("doc_id", "pred_lang")
    toks = textstats.token_counts(docs).select("doc_id", "n_ws_tokens")
    return (
        docs.select("doc_id", "source")
        .join(verdict, "doc_id")
        .join(lang, "doc_id")
        .join(toks, "doc_id")
        .groupBy("source", "pred_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("keep")).alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_ws_tokens")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
    )


CTX_TOKENS = 512
PACK_HASH_BITS = 48          # tape hash width (12 md5 hex chars)
PACK_TARGET_BUCKET_DOCS = 64  # expected docs per phase-1 bucket
PACK_CUMSUM_THRESHOLD = 4096  # max rows ANY unpartitioned window sees
PACK_FANIN_BITS = 10          # buckets folded per super-bucket level


def pack_tape_hash(id_col) -> "F.Column":
    """The tape-order hash (Spark twin of sqlgen.hexint48): 48-bit
    uniform BIGINT from md5 of the STRING form of the id — id-type
    safe (a numeric division of the raw id would NULL out on string
    ids, the engine's own documents contract, and silently collapse
    the prefix sum to one bucket)."""
    return F.conv(
        F.substring(F.md5(id_col.cast("string")), 1, 12), 16, 10
    ).cast("long")


def pack_shift(n_docs: int) -> int:
    """Right-shift applied to the 48-bit tape hash so the expected
    bucket occupancy is ≈ ``PACK_TARGET_BUCKET_DOCS`` docs:
    2^(48-shift) buckets."""
    import math

    want_buckets = max(1, n_docs // PACK_TARGET_BUCKET_DOCS)
    bits = min(PACK_HASH_BITS, math.ceil(math.log2(want_buckets))) if want_buckets > 1 else 0
    return PACK_HASH_BITS - bits


def _bucketed_cumsum(
    totals: DataFrame,
    key: str,
    val: str,
    out: str,
    threshold: int = PACK_CUMSUM_THRESHOLD,
    fanin_bits: int = PACK_FANIN_BITS,
    _levels: list | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``val`` over ascending non-negative
    integer ``key``, recursing so that **no unpartitioned window ever
    sees more than ``threshold`` rows at any input size**:

    * ≤ threshold keys → one ordered window (the base case);
    * else fold 2^fanin_bits consecutive keys into a super-bucket
      (``key >> fanin_bits`` — contiguous by construction), cumsum
      within each super-bucket (a PARTITIONED window, ≤ 2^fanin_bits
      rows per partition), and recurse on the super-bucket totals,
      whose cardinality shrank 2^fanin_bits-fold. Depth is
      log_fanin(n): 3 levels cover 4096·1024² ≈ 4·10⁹ buckets.

    The driver-side ``count()`` per level is a convergence-style scalar
    (one tiny job per level, O(log n) levels), same pattern as the CC
    loop. ``_levels`` (tests) records each level's cardinality."""
    if (1 << fanin_bits) > threshold:
        raise ValueError("fanin 2^fanin_bits must not exceed threshold")
    n = totals.count()
    if _levels is not None:
        _levels.append(n)
    if n <= threshold:
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
        return totals.withColumn(
            out, F.coalesce(F.sum(val).over(w), F.lit(0)).cast("long")
        )
    # temp names derive from the key so recursion levels never collide
    # (the child's key IS this level's sup column)
    sup_key, sup_val, sup_out, off_in = (
        f"_sup_{key}", f"_supval_{key}", f"_supoff_{key}", f"_offin_{key}",
    )
    sup = totals.withColumn(sup_key, F.shiftright(F.col(key), fanin_bits))
    w_in = (
        Window.partitionBy(sup_key)
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = sup.withColumn(
        off_in, F.coalesce(F.sum(val).over(w_in), F.lit(0)).cast("long")
    )
    sup_totals = sup.groupBy(sup_key).agg(F.sum(val).alias(sup_val))
    sup_off = _bucketed_cumsum(
        sup_totals, sup_key, sup_val, sup_out,
        threshold, fanin_bits, _levels,
    ).select(sup_key, sup_out)
    return (
        within.join(sup_off, sup_key)
        .withColumn(out, (F.col(off_in) + F.col(sup_out)).cast("long"))
        .drop(sup_key, off_in, sup_out)
    )


def seq_packing(docs: DataFrame) -> DataFrame:
    """Concat-and-split sequence packing — the pretraining batch-prep
    step: lay all documents out on one token tape and cut it every
    ``CTX_TOKENS`` tokens. Emits per doc its global token offset, the pack
    (context window) its first token lands in, and the offset within
    that pack.

    Tape order is ``(pack_tape_hash(doc_id), doc_id)`` — content-free,
    deterministic, and id-type safe (string ids hash the same way
    numeric ids do). A hash order is exactly as valid as doc_id order
    for packing (the tape order is arbitrary by construction) and it
    makes bucketing trivially uniform.

    The global running offset is a prefix sum. A naive
    ``SUM() OVER (ORDER BY ...)`` sorts the whole corpus on ONE
    reducer — the classic scale-killer — so: phase 1 cumsums within
    hash-contiguous buckets sized to ≈``PACK_TARGET_BUCKET_DOCS`` docs
    (parallel partitioned windows), then the per-bucket totals go
    through :func:`_bucketed_cumsum`, which RECURSES until no
    unpartitioned window sees more than ``PACK_CUMSUM_THRESHOLD`` rows —
    at 10⁹+ docs the totals table is no longer a single-reducer
    window either. Values are identical to the single global window
    over the same tape order, which is what the DuckDB oracle
    states."""
    toks = dedup.tokens_col(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        pack_tape_hash(F.col("doc_id")).alias("h"),
    )
    # scalar corpus count → bucket granularity (one count job; at real
    # scale this is parquet-metadata cheap and amortized per run)
    return _pack_tape(base, docs.count())


def _pack_tape(base: DataFrame, n_docs: int) -> DataFrame:
    """Shared tape layout of :func:`seq_packing` /
    :func:`interleaved_packing`: two-phase distributed prefix sum of
    ``n_tokens`` over the tape order ``(h, doc_id)``. ``base`` must
    carry (doc_id, n_tokens, h) plus any passthrough columns, which
    survive into the output alongside tok_offset/pack_id/pack_offset."""
    passthrough = [c for c in base.columns if c not in ("h",)]
    shift = pack_shift(n_docs)
    base = base.withColumn("bkt", F.shiftright("h", shift))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = base.withColumn(
        "off_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    totals = base.groupBy("bkt").agg(F.sum("n_tokens").alias("bkt_tokens"))
    offsets = _bucketed_cumsum(totals, "bkt", "bkt_tokens", "bkt_off").select(
        "bkt", "bkt_off"
    )
    g_off = F.col("off_in") + F.col("bkt_off")
    return (
        within.join(offsets, "bkt")
        .select(
            *passthrough,
            g_off.cast("long").alias("tok_offset"),
            F.floor(g_off / CTX_TOKENS).cast("long").alias("pack_id"),
            F.pmod(g_off, F.lit(CTX_TOKENS)).cast("long").alias("pack_offset"),
        )
    )


MEDIA_TOKENS = 256  # fixed vision-token budget charged per media span


def interleaved_packing(spans_docs: DataFrame) -> DataFrame:
    """Multimodal twin of :func:`seq_packing` over the INTERLEAVED
    spans IR — the batch-prep step of a text+media pretraining run
    (the north rule's payload): each document's tape cost is its
    extracted text spans' token count plus a fixed ``MEDIA_TOKENS``
    budget per media span (the constant patch-token count a vision
    encoder contributes per image, as in Flamingo/LLaVA-style
    packing).

    Cost derivation is fully NARROW — an array fold over each doc's
    extracted spans (no explode, no extra shuffle); the only
    exchanges are the shared tape prefix sum's. Docs whose spans all
    normalize away still occupy a zero-width tape slot, so the output
    covers every input doc (mirrors seq_packing)."""
    from . import extraction

    ext = extraction.extract_ordered_spans(spans_docs)
    spans = F.col("spans")
    text_toks = F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(s["kind"] == "media", F.lit(0))
        .otherwise(F.size(dedup.tokens_col(s["text"])))
        .cast("long"),
    )
    n_media = F.size(F.filter(spans, lambda s: s["kind"] == "media"))
    base = ext.select(
        "doc_id",
        text_toks.alias("n_text_tokens"),
        n_media.cast("long").alias("n_media"),
        pack_tape_hash(F.col("doc_id")).alias("h"),
    ).select(
        "doc_id",
        "n_text_tokens",
        "n_media",
        (F.col("n_text_tokens") + MEDIA_TOKENS * F.col("n_media"))
        .cast("long")
        .alias("n_tokens"),
        "h",
    )
    return _pack_tape(base, spans_docs.count())


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Corpus VERSION DIFF — the incremental-ingest primitive: compare
    two corpus snapshots by doc_id + normalized content hash and emit
    one row per id with status ``added`` / ``removed`` / ``changed`` /
    ``unchanged``. This is what an incremental pipeline keys its delta
    processing on (re-extract only added+changed, tombstone removed).

    Scale shape: ONE full-outer hash join on doc_id of two narrow
    (id, hash) projections — no content ever shuffles, and the join key
    is the id, so skew is bounded by id cardinality (unique)."""
    oh = old.select("doc_id", text_hash(F.col("text")).alias("old_hash"))
    nh = new.select("doc_id", text_hash(F.col("text")).alias("new_hash"))
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return oh.join(nh, "doc_id", "full_outer").select(
        "doc_id", "old_hash", "new_hash", status.alias("status")
    )


def corpus_upsert(old: DataFrame, new: DataFrame) -> DataFrame:
    """SCD-style corpus MERGE — the APPLY side of :func:`corpus_diff`
    (Iceberg ``MERGE INTO`` semantics as one full-outer id join):
    resolve two snapshots into the next table state with the lineage
    columns an incremental pipeline needs — current content hash (new
    wins; a tombstone keeps the last known hash), ``is_tombstone`` for
    removed ids (retained so downstream deltas can propagate deletes),
    ``first_seen_ver`` (ingest history survives the merge) and
    ``last_changed_ver`` (bumped only when content actually changed —
    the re-extraction trigger). ``old`` is version 1, ``new`` version 2.

    Scale shape: inherits corpus_diff's — narrow (id, hash)
    projections, one full-outer join on the unique id, content never
    shuffles."""
    d = corpus_diff(old, new)
    st = F.col("status")
    return d.select(
        "doc_id",
        F.coalesce("new_hash", "old_hash").alias("text_hash"),
        (st == "removed").alias("is_tombstone"),
        F.when(st == "added", F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("first_seen_ver"),
        F.when(st == "unchanged", F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
        .alias("last_changed_ver"),
        "status",
    )


def mixture_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-source MIXTURE DRIFT between two corpus snapshots — the
    governance check before swapping training-corpus versions: did the
    ingest delta silently shift the source mixture the sampler was
    tuned on? Per source: doc/estimated-token mass in each snapshot,
    each snapshot's token share, and the share delta.

    Scale shape: two map-side-combinable groupBy(source) aggregates
    over narrow (source, token-estimate) projections — content never
    shuffles — full-outer joined on the tiny source dim, with the two
    corpus totals riding in as broadcast 1-row frames. Shares are
    int/int→double divisions; drift is one IEEE subtraction of those
    exact quotients."""
    est = F.expr("CAST((length(text) + 3) DIV 4 AS BIGINT)")

    def _mass(df: DataFrame, sfx: str) -> DataFrame:
        return (
            df.select("source", est.alias("tok"))
            .groupBy("source")
            .agg(
                F.count("*").cast("long").alias(f"docs_{sfx}"),
                F.sum("tok").cast("long").alias(f"tokens_{sfx}"),
            )
        )

    o, n = _mass(old, "old"), _mass(new, "new")
    tot_o = o.agg(F.sum("tokens_old").cast("long").alias("tot_old"))
    tot_n = n.agg(F.sum("tokens_new").cast("long").alias("tot_new"))
    share_old = F.coalesce("tokens_old", F.lit(0)).cast("double") / F.col(
        "tot_old"
    ).cast("double")
    share_new = F.coalesce("tokens_new", F.lit(0)).cast("double") / F.col(
        "tot_new"
    ).cast("double")
    return (
        o.join(n, "source", "full_outer")
        .crossJoin(F.broadcast(tot_o))
        .crossJoin(F.broadcast(tot_n))
        .select(
            "source",
            F.coalesce("docs_old", F.lit(0)).cast("long").alias("docs_old"),
            F.coalesce("docs_new", F.lit(0)).cast("long").alias("docs_new"),
            F.coalesce("tokens_old", F.lit(0)).cast("long").alias("tokens_old"),
            F.coalesce("tokens_new", F.lit(0)).cast("long").alias("tokens_new"),
            share_old.alias("share_old"),
            share_new.alias("share_new"),
            (share_new - share_old).alias("drift"),
        )
    )


def pack_manifest(docs: DataFrame) -> DataFrame:
    """The pack-level view of :func:`seq_packing` — what a dataloader
    actually indexes: per context-window pack, how many documents START
    in it, their combined token count, and whether those tokens alone
    already fill the window (docs spilling in from the previous pack
    are accounted to their starting pack, the standard manifest
    convention). One bounded groupBy over the packing output."""
    sp = seq_packing(docs)
    return sp.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("tok_offset").cast("long").alias("first_offset"),
        (F.sum("n_tokens") >= CTX_TOKENS).alias("fills_window"),
    )


def corpus_filter(
    docs: DataFrame,
    quality_model: DataFrame | None = None,
    decontaminate: bool = False,
) -> DataFrame:
    """Compose the admission verdict for a ``documents``-shaped frame
    (doc_id, text). See module docstring for stages and precedence.

    ``quality_model`` (opt-in): a trained (token, w_milli) linear
    scorer dim (textstats.quality_score, fastText-style); when passed,
    docs whose model label is ``drop`` gain the ``model_low_quality``
    drop reason, ranked after the heuristic ``low_quality`` stage. The
    default (None) leaves the verdict — and its oracle — unchanged.

    ``decontaminate`` (opt-in): run the benchmark eval-overlap scan
    (dedup.decontaminate, GPT-3 appendix-C) and give contaminated docs
    the ``contaminated`` drop reason, ranked after
    ``model_low_quality``. Default (False) leaves the verdict — and
    its oracle — unchanged."""
    quality = textstats.text_quality(docs).select("doc_id", "quality")
    rep = textstats.text_repetition(docs).select(
        "doc_id", "n_tokens", "top_2gram_char_frac", "dup_3gram_frac"
    )
    # per-hash min via groupBy + join-back, NOT a window: WindowExec has
    # no map-side partial aggregation, so a heavily duplicated
    # boilerplate page would funnel every copy through one reducer; the
    # groupBy combines map-side and the join fans the min back out
    hashed = docs.select("doc_id", text_hash(F.col("text")).alias("h"))
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_doc"))
    exact = hashed.join(keepers, "h").select(
        "doc_id", (F.col("doc_id") == F.col("keep_doc")).alias("exact_keep")
    )
    # signature frame feeds band generation + both verify sides: one
    # materialization, and the plan truncates to a LogicalRDD leaf, so
    # the ~15 downstream DataFrame ops stop re-analyzing the signature
    # subtree (the featured-pages lesson: analyzer time was a third of
    # the dedup-chain wall)
    withsig = materialize(dedup.with_minhash(docs))
    pairs = dedup.lsh_candidate_pairs(withsig)
    verified = dedup.verified_near_dups(withsig, pairs).select("a", "b")
    clusters = dedup.connected_components(verified).select(
        "doc_id", F.col("keep").alias("nd_keep")
    )
    joined = (
        rep.join(quality, "doc_id")
        .join(exact, "doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("neardup_keep", F.coalesce("nd_keep", F.lit(True)))
        .drop("nd_keep")
    )
    model_drop = F.lit(False)
    if quality_model is not None:
        scored = textstats.quality_score(docs, quality_model).select(
            "doc_id", (F.col("label") == "drop").alias("model_drop")
        )
        joined = joined.join(scored, "doc_id", "left")
        model_drop = F.coalesce("model_drop", F.lit(False))
    contaminated = F.lit(False)
    if decontaminate:
        decon = dedup.decontaminate(docs).select(
            "doc_id", F.col("contaminated").alias("decon_hit")
        )
        joined = joined.join(decon, "doc_id", "left")
        contaminated = F.coalesce("decon_hit", F.lit(False))
    reason = (
        F.when(~F.col("exact_keep"), F.lit("exact_dup"))
        .when(~F.col("neardup_keep"), F.lit("near_dup"))
        .when(F.col("n_tokens") < MIN_TOKENS, F.lit("too_short"))
        .when(F.col("quality") == "low", F.lit("low_quality"))
        .when(model_drop, F.lit("model_low_quality"))
        .when(contaminated, F.lit("contaminated"))
        .when(F.col("top_2gram_char_frac") > MAX_TOP2_FRAC, F.lit("repetitive_2gram"))
        .when(F.col("dup_3gram_frac") > MAX_DUP3_FRAC, F.lit("repetitive_3gram"))
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "quality",
        "top_2gram_char_frac",
        "dup_3gram_frac",
        "exact_keep",
        "neardup_keep",
        reason.alias("drop_reason"),
        reason.isNull().alias("keep"),
    )


# corpus_filter's drop reasons in their fixed precedence order —
# shared with the funnel oracle (oracles.filter_funnel_sql); a new
# stage in corpus_filter's `reason` ladder must be appended here too.
FUNNEL_STAGES: tuple[str, ...] = (
    "exact_dup",
    "near_dup",
    "too_short",
    "low_quality",
    "repetitive_2gram",
    "repetitive_3gram",
)


def filter_funnel(docs: DataFrame) -> DataFrame:
    """Admission waterfall over :func:`corpus_filter`'s verdict — the
    governance table every curation report leads with: per stage (in
    the verdict's fixed precedence) how many documents that stage
    dropped and how many survive after it, so a threshold change's
    blast radius reads off one 6-row table instead of a corpus diff.

    Scale shape: ONE aggregation of the verdict frame (groupBy
    drop_reason — 7 distinct keys, map-side combinable), then all
    waterfall arithmetic on the tiny stage table: the cumulative-sum
    window is ordered but bounded by ``len(FUNNEL_STAGES)`` rows BY
    CONSTRUCTION (the stage dim is a literal), never by corpus size.
    Integer-only output — no float crosses the oracle boundary."""
    verdict = corpus_filter(docs)
    # the ≤7-row stage-count frame feeds BOTH the stage join and the
    # corpus total; materialize it so the full verdict DAG (quality
    # + repetition + exact + LSH + CC) runs ONCE instead of once per
    # consumer
    counts = materialize(
        verdict.groupBy("drop_reason").agg(F.count("*").cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("n_corpus"))
    stages = docs.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(FUNNEL_STAGES)],
        "stage_no long, stage string",
    )
    w = Window.orderBy("stage_no").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        stages.join(counts, stages.stage == counts.drop_reason, "left")
        .crossJoin(F.broadcast(total))
        .select(
            "stage_no",
            "stage",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_dropped"),
            "n_corpus",
        )
        .withColumn(
            "survivors",
            (F.col("n_corpus") - F.sum("n_dropped").over(w)).cast("long"),
        )
    )


def funnel_by_source(docs: DataFrame) -> DataFrame:
    """Drop attribution by source — the question after
    :func:`filter_funnel`'s corpus-level waterfall: WHICH domains lose
    their mass to WHICH admission stage (a boilerplate-heavy host dies
    at dedup, a spam host at quality, a short-form host at length).
    One row per (source, stage) with the stage's doc count, the
    source's corpus mass, and the stage's share of it — the table that
    decides whether a host gets a crawler fix or a blocklist entry.

    Scale shape: the verdict joins the (doc_id, source) projection on
    the pre-partitioned doc_id key, then ONE map-side-combinable
    groupBy(source, stage) (≤ 7 stages × sources rows); the
    per-source total rides a self-keyed window over ≤ 7 rows per
    source. The only float is one int/int division."""
    verdict = corpus_filter(docs)
    joined = verdict.select("doc_id", "drop_reason").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    per = joined.groupBy(
        "source",
        F.coalesce("drop_reason", F.lit("admitted")).alias("stage"),
    ).agg(F.count("*").cast("long").alias("n_docs"))
    w = Window.partitionBy("source")
    return per.select(
        "source",
        "stage",
        "n_docs",
        F.sum("n_docs").over(w).cast("long").alias("src_total"),
    ).withColumn(
        "stage_share",
        F.col("n_docs").cast("double") / F.col("src_total").cast("double"),
    )


CLUSTER_CAP = 25


def cluster_cap_sample(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Diversity-balanced sampling over EMBEDDING clusters — the
    semantic counterpart of :func:`source_cap_sample` (data-curation
    pipelines cap per topic cluster so dominant content types don't
    swamp the mixture): assign every doc to its nearest centroid (the
    IVF coarse quantizer — a trained k-means fit drops in the same way,
    see similarity_search.ivf_assign), then keep at most ``CLUSTER_CAP`` docs
    per cluster by the deterministic (md5(id), id) shuffle rank.

    Scale shape: the assignment is a broadcast-centroid argmin (never
    an all-pairs join); the cap is the same two-phase salted ranking as
    source_cap_sample — no reducer ever sorts a whole hot cluster.
    """
    from . import similarity_search as SS

    assign = SS.ivf_assign(embeddings).select(
        F.col("vec_id").alias("doc_id"), "centroid_id"
    )
    j = docs.select("doc_id").join(assign, "doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(_CAP_SALTS))
    w1 = Window.partitionBy("centroid_id", salt).orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    phase1 = (
        j.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= CLUSTER_CAP)
    )
    w2 = Window.partitionBy("centroid_id").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        phase1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= CLUSTER_CAP)
        .select(
            "doc_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


HIST_BUCKET_CHARS = 500


def length_histogram(docs: DataFrame) -> DataFrame:
    """Per-source document-length histogram — the dataset-card
    distribution shape (exact-percentile profiling doesn't distribute:
    an exact per-group percentile sorts the group on one reducer, and
    approx sketches aren't engine-portable; a fixed-width histogram is
    both exact and map-side combinable at any scale). Buckets on the
    stored ``n_chars`` column; ``share`` is the int/int within-source
    fraction."""
    from pyspark.sql import Window as W

    b = (
        F.floor(F.col("n_chars") / HIST_BUCKET_CHARS) * HIST_BUCKET_CHARS
    ).cast("long")
    g = docs.groupBy(F.col("source"), b.alias("bucket_lo")).agg(
        F.count("*").alias("n_docs")
    )
    # per-source totals derive from the bucket aggregate itself
    # (sum(n_docs) over source == count(*) per source exactly) — one
    # corpus scan, and the window runs over the TINY grouped frame,
    # never the corpus
    n_src = F.sum("n_docs").over(W.partitionBy("source"))
    return g.select(
        "source",
        "bucket_lo",
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("n_docs").cast("double") / n_src.cast("double")).alias("share"),
    )


ANNEAL_ALPHAS = (25, 50, 75, 100)  # temperature ladder, α in percent


def mixture_schedule(docs: DataFrame) -> DataFrame:
    """Temperature-ANNEALED mixture schedule (the multilingual /
    multi-source curriculum: early epochs flatten the distribution,
    late epochs approach natural frequency): per α checkpoint in
    {0.25, 0.5, 0.75, 1.0}, the per-source share ∝ n^α (normalized)
    and the resulting deterministic keep rate. Every power is an
    EXACT sqrt composition — n^0.25 = sqrt(sqrt(n)), n^0.75 =
    sqrt(n)·sqrt(sqrt(n)) — because pow(x, α) is not
    correctly-rounded cross-engine (the ln rule); the normalizing sum
    folds in source order.

    Scale shape: one groupBy(source) (map-side combinable) → a 4-row α
    dim fan-out over the tiny per-source table → per-α ordered folds
    and a join back; the corpus itself is scanned once."""
    per = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_src"))
    alphas = docs.sparkSession.createDataFrame(
        [(int(a),) for a in ANNEAL_ALPHAS], "alpha_pct long"
    )
    nd = F.col("n_src").cast("double")
    powered = (
        F.when(F.col("alpha_pct") == 25, F.sqrt(F.sqrt(nd)))
        .when(F.col("alpha_pct") == 50, F.sqrt(nd))
        .when(F.col("alpha_pct") == 75, F.sqrt(nd) * F.sqrt(F.sqrt(nd)))
        .otherwise(nd)
    )
    rows = per.crossJoin(F.broadcast(alphas)).select(
        "alpha_pct", "source", "n_src", powered.alias("p")
    )
    sums = rows.groupBy("alpha_pct").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "p"))),
            F.lit(0.0),
            lambda acc, s: acc + s["p"],
        ).alias("p_sum")
    )
    share = F.col("p") / F.col("p_sum")
    rate = F.least(
        F.lit(1.0),
        share * F.lit(float(SAMPLE_TARGET)) / F.col("n_src").cast("double"),
    )
    return rows.join(sums, "alpha_pct").select(
        "alpha_pct",
        "source",
        "n_src",
        share.alias("share"),
        rate.alias("keep_rate"),
    )


ZORDER_BITS = 8     # bits per dimension (x = source hash, y = length band)
ZORDER_FILES = 64   # target file count for the layout
ZORDER_CHARS_PER_BAND = 16


def zorder_keys(docs: DataFrame) -> DataFrame:
    """Z-order (Morton) layout keys for the two dimensions a
    training-shard reader prunes on — source and document length
    (Delta/Iceberg Z-ORDER semantics, public): interleave the 8-bit
    source hash with the 8-bit length band so a predicate on EITHER
    dimension touches only a contiguous fraction of the
    ``ZORDER_FILES`` output files, instead of all of them under a
    single-key sort. Bit interleave is unrolled pure integer
    arithmetic — ``((x DIV 2^i) % 2) · 4^i`` terms — identical on both
    engines; no floats anywhere.

    Scale shape: one narrow projection (the layout key is a pure
    function of each row); the actual write would
    ``repartitionByRange(file_bucket)`` — the planner itself adds no
    shuffle. Emits (doc_id, zx, zy, z, file_bucket)."""
    from .features import hash_bucket

    dim = 1 << ZORDER_BITS
    x = hash_bucket(F.col("source"), dim)
    y = F.least(
        F.expr(f"n_chars DIV {ZORDER_CHARS_PER_BAND}"), F.lit(dim - 1)
    ).cast("long")
    xc = x.cast("long").alias("zx")
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.expr(f"(zx DIV {1 << i}) % 2") * F.lit(1 << (2 * i))
            + F.expr(f"(zy DIV {1 << i}) % 2") * F.lit(1 << (2 * i + 1))
        )
    per_file = (dim * dim) // ZORDER_FILES
    return (
        docs.select("doc_id", xc, y.alias("zy"))
        .withColumn("z", z.cast("long"))
        .withColumn(
            "file_bucket", F.expr(f"z DIV {per_file}").cast("long")
        )
    )
