"""Deduplication suite for large-scale training-data pipelines.

Beyond the reference's exact-hash dedup (its J1 short-circuit), this
module adds the standard web-scale near-dup family:

* exact duplicate groups (hash-groupBy) — the 100 TB-safe baseline;
* MinHash signatures + banded LSH candidate pairs + exact verification
  (shingle → minhash → band → bucket join), the classic
  Broder/Leskovec-et-al construction;
* SimHash fingerprints (Charikar) with banded buckets;
* n-gram Jaccard verification on candidate pairs.

Scale design: signatures are computed with **narrow array expressions**
(``transform`` over a seed sequence + ``array_min``) — no explode, no
shuffle until the band-bucket join, whose fan-out is bounded by bucket
size. The only shuffles are the band groupBys and the final pair
distinct. MinHash values are md5 hex strings compared lexicographically
— engine-portable and uniform enough for LSH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize, release

NUM_HASHES = 16
BAND_SIZE = 4  # 4 bands x 4 rows
SHINGLE_K = 3
TOKEN_RE = r"[^a-z0-9]+"
SIMHASH_BITS = 16


def tokens_col(text) -> "F.Column":
    return F.filter(
        F.split(F.lower(text), TOKEN_RE), lambda t: F.length(t) >= 2
    )


def shingles_col(toks) -> "F.Column":
    """Distinct word k-shingles; docs shorter than k words get their
    whole token join as one shingle (so they still participate)."""
    k = SHINGLE_K
    short = F.array(F.array_join(toks, " "))
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    return F.array_distinct(F.when(F.size(toks) < k, short).otherwise(sh))


MH_P = 2_147_483_647  # 2^31 - 1; A*x stays under 2^63
MH_A_MULT = 2654435761
MH_A_ADD = 40503
MH_B_MULT = 97
MH_B_ADD = 13


def minhash_sig(sh) -> "F.Column":
    """array<bigint> of NUM_HASHES minima under universal hashing
    h_i(x) = (A_i·x + B_i) mod P over x = int(md5(shingle)[:8], 16).

    Shape: ONE fold over the shingles carrying the 16 running minima —
    the md5 evaluates exactly once per shingle. (The transposed form —
    16 outer seeds each scanning the hashed-shingle array — re-evaluates
    the md5 transform inside every seed lambda, 16× the hashing;
    measured ~4× slower end-to-end on the dedup query.)
    """
    xs = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    init = F.array_repeat(F.lit(MH_P).cast("long"), NUM_HASHES)
    seeds = F.sequence(F.lit(0), F.lit(NUM_HASHES - 1))
    return F.aggregate(
        xs,
        init,
        lambda acc, x: F.zip_with(
            acc,
            seeds,
            lambda m, i: F.least(
                m,
                (
                    ((i * MH_A_MULT + MH_A_ADD) % MH_P) * x
                    + (i * MH_B_MULT + MH_B_ADD)
                )
                % MH_P,
            ),
        ),
    )


def with_minhash(docs: DataFrame) -> DataFrame:
    toks = tokens_col(F.col("text"))
    return docs.withColumn("shingles", shingles_col(toks)).withColumn(
        "minhash", minhash_sig(F.col("shingles"))
    )


WINNOW_W = 4


def _shift(arr, by: int) -> "F.Column":
    return F.slice(arr, by + 1, F.greatest(F.size(arr) - by, F.lit(0)))


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """MOSS-style winnowing document fingerprints: hash the POSITIONAL
    k-shingle sequence, keep the minimum of every sliding window of
    ``WINNOW_W`` hashes, dedupe — a near-dup fingerprint whose density
    is guaranteed (≥ one fingerprint per window) unlike plain modular
    sampling. Emits one row per (doc_id, fp).

    Shape: everything is zip-shifted arrays (each derived array enters
    the next step as the HOF input — the single-evaluation rule), so
    the whole construction is narrow and shuffle-free per document.
    """
    t = tokens_col(F.col("text"))
    # positional 3-gram shingles via two shifted copies (NULL-masked at
    # the tail so partial grams never form)
    s1, s2 = _shift(t, 1), _shift(t, 2)
    g2 = F.zip_with(t, s1, lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)))
    g3 = F.filter(
        F.zip_with(
            g2, s2,
            lambda ab, c: F.when(ab.isNotNull() & c.isNotNull(), F.concat(ab, F.lit(" "), c)),
        ),
        lambda x: x.isNotNull(),
    )
    tri = F.when(F.size(t) < SHINGLE_K, F.array(F.array_join(t, " "))).otherwise(g3)
    hs = F.transform(
        tri, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    docs = docs.select("doc_id", hs.alias("hs")).filter(F.size("hs") > 0)
    h = F.col("hs")
    h1, h2, h3 = _shift(h, 1), _shift(h, 2), _shift(h, 3)
    m1 = F.zip_with(h, h1, lambda a, b: F.least(a, b))  # least skips NULL
    m2 = F.zip_with(m1, h2, lambda a, b: F.least(a, b))
    # the last shift also MASKS partial windows (d NULL → window null)
    m3 = F.filter(
        F.zip_with(m2, h3, lambda m, d: F.when(d.isNotNull(), F.least(m, d))),
        lambda x: x.isNotNull(),
    )
    fps = F.when(
        F.size("hs") < WINNOW_W, F.array(F.array_min("hs"))
    ).otherwise(F.array_sort(F.array_distinct(m3)))
    return docs.select("doc_id", F.explode(fps).alias("fp"))


WINNOW_MAX_FP_DOCS = 64
# pairs sharing at least this many winnow fingerprints are near-dup
# edges for cluster formation (1 shared fp is too weak a signal —
# boilerplate below the hot-fp guard still produces singles)
WINNOW_MIN_SHARED = 2


def winnow_candidate_pairs(fps: DataFrame) -> DataFrame:
    """Fingerprint table (doc_id, fp) → candidate near-dup pairs with
    shared-fingerprint counts: equi-join on fp (never all-pairs), with
    the standard hot-bucket guard (a fingerprint shared by more than
    ``WINNOW_MAX_FP_DOCS`` docs is boilerplate — drop it, as in the LSH
    paths)."""
    small = fps.groupBy("fp").count().filter(F.col("count") <= WINNOW_MAX_FP_DOCS)
    f2 = fps.join(small.select("fp"), "fp")
    a = f2.select(F.col("doc_id").alias("a"), "fp")
    b = f2.select(F.col("doc_id").alias("b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )


def exact_dup_groups(docs: DataFrame, count_alias: str = "n_docs") -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content — the SINGLE
    home of the T1 hash spec (features.text_hash); the docs- and
    pages-level queries both go through here."""
    from .features import text_hash

    return (
        docs.select(F.col("doc_id"), text_hash(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias(count_alias), F.min("doc_id").alias("keep_doc"))
        .filter(F.col(count_alias) > 1)
    )


MAX_BUCKET = 64
NEAR_DUP_JACCARD = 0.5  # shingle-Jaccard floor of a verified near-dup pair


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, minhash, ...) → one (doc_id, band, bucket) row per
    signature band — the banding spec shared by the self-join candidate
    generator and the cross-corpus incremental path."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(NUM_HASHES // BAND_SIZE - 1)),
                lambda b: F.md5(
                    F.array_join(
                        F.transform(
                            F.slice("minhash", b * BAND_SIZE + 1, BAND_SIZE),
                            lambda x: x.cast("string"),
                        ),
                        "|",
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    Hot-bucket guard: a bucket of b docs yields b(b−1)/2 pairs — at
    10^12 docs a boilerplate bucket would explode the self-join.
    Buckets larger than ``MAX_BUCKET`` are dropped here; their members
    are near-exact clusters that the exact-hash dedup path already
    collapses far more cheaply."""
    bands = _band_rows(sigs)
    sizes = bands.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    small = bands.join(
        sizes.filter(F.col("_n") <= MAX_BUCKET).select("band", "bucket"),
        ["band", "bucket"],
    )
    a = small.select(F.col("doc_id").alias("a"), "band", "bucket")
    b = small.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def verified_near_dups(docs_with_shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard verification of LSH candidates."""
    sa = docs_with_shingles.select(
        F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a")
    )
    sb = docs_with_shingles.select(
        F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b")
    )
    j = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    )
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
    )


CC_MAX_ITERS = 25


_OBS_TIMEOUT_SEC = 30.0  # full convergence-poll budget per round
_OBS_PROBE_SEC = 2.0  # the budget after a round whose metric never came


def _changed_from_observation(obs, fallback_df: DataFrame, timeout_sec: float) -> tuple[int, bool]:
    """Read the per-round changed-label count from the Observation
    attached to the label-update job: ``(changed, observed)``. The
    metric is produced by the SAME action that materializes the round's
    localCheckpoint, so the convergence check costs zero extra jobs.
    Bounded poll + fallback: if the listener ever stops firing for
    RDD-materialize actions (a Spark-internal behavior we verified on
    4.1 but don't control), scan the already-checkpointed frame instead
    of hanging in ``obs.get``, and report ``observed=False`` so the
    caller can shrink its next poll budget. Stateless: the budget is
    the caller's, never module state."""
    import time

    deadline = time.monotonic() + timeout_sec
    try:
        jo = obs._jo
        while time.monotonic() < deadline:
            if jo.getRowOrEmpty().isDefined():
                return int(obs.get["changed"] or 0), True
            time.sleep(0.02)
    except Exception:  # pragma: no cover - py4j accessor drift
        pass
    changed = fallback_df.agg(
        F.sum(F.col("chg").cast("long")).alias("changed")
    ).first()["changed"]
    return int(changed or 0), False


def connected_components(pairs: DataFrame) -> DataFrame:
    """Near-dup cluster formation — the stage every candidate-pair
    generator (LSH / winnowing / embedding buckets) feeds at 100 TB:
    connected components over the pair edges, emitting one row per doc
    that appears in any pair: (doc_id, cluster_id, keep) with
    cluster_id = min(doc_id in component) and keep = (doc_id ==
    cluster_id) — the canonical keep-one-per-cluster drop policy.

    Algorithm: min-label propagation WITH pointer jumping — each round
    every node takes the min over {its label, its neighbors' labels,
    its label's label}. The extra label-chasing hop halves label-chain
    depth per round (Shiloach-Vishkin shortcutting), so convergence is
    O(log diameter): 25 rounds cover a diameter-2^25 chain, far past
    anything a dedup graph produces. A non-converged exit RAISES
    instead of returning fragmented clusters — truncated labels would
    silently disagree with the exact recursive-closure oracle and
    corrupt downstream keep decisions.

    The driver-side loop is a CONVERGENCE loop, not a data loop: per
    round ONE distributed job — the label-update joins materialize the
    round's localCheckpoint, and an attached ``Observation`` metric
    (``sum(new_lbl != old_lbl)``) rides the same job, so the driver
    reads the changed-count without a second pass (the previous shape
    paid a full new×old label join + count per round, which doubled
    round latency and amplified ambient host load across ~50 small
    jobs). ``localCheckpoint`` truncates the lineage each round so the
    plan doesn't grow with iterations; the superseded round's
    checkpoint is released as soon as the next one exists.
    """
    from pyspark.sql import Observation
    sym = materialize(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    # init fused with round 1: starting from lbl=node, the first
    # propagation round computes least(node, min neighbor id) — exactly
    # min(dst) over the symmetrized edges, so the node-set groupBy that
    # would only have deduplicated src doubles as the whole first round
    # (one fewer driver-synchronized iteration; final labels unchanged
    # because CC converges to the component min from any initial
    # assignment along the same propagation lattice)
    labels = materialize(
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_mn"))
        .select("node", F.least(F.col("node"), F.col("_mn")).alias("lbl"))
    )
    converged = False
    budget = _OBS_TIMEOUT_SEC
    for _ in range(CC_MAX_ITERS):
        msgs = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_min"))
        )
        # pointer jumping: chase one hop through the label table itself
        # (lbl -> lbl's lbl), halving chain depth every round
        hop = labels.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        new_lbl = F.least(
            F.col("lbl"),
            F.coalesce("nbr_min", F.col("lbl")),
            F.coalesce("lbl2", F.col("lbl")),
        )
        obs = Observation()
        new_labels = materialize(  # eager: this job also emits the metric
            labels.join(msgs, "node", "left")
            .join(hop, "lbl", "left")
            .select(
                "node",
                new_lbl.alias("new_lbl"),
                (new_lbl != F.col("lbl")).alias("chg"),
            )
            .withColumnRenamed("new_lbl", "lbl")
            .observe(obs, F.sum(F.col("chg").cast("long")).alias("changed"))
        )
        changed, observed = _changed_from_observation(obs, new_labels, budget)
        # DECAY on a miss instead of disabling outright: one missed round
        # (e.g. a listener hiccup under tenant load) drops the poll to a
        # short probe — bounded cost per later round — while an observed
        # round restores the full budget, so a transient never disables
        # the zero-extra-job path. The budget lives in this call only.
        if not observed and budget > _OBS_PROBE_SEC:
            import warnings

            warnings.warn(
                "Observation metrics did not arrive for a localCheckpoint "
                "materialize; dropping the convergence poll to a 2 s probe "
                "and falling back to aggregate scans of the checkpointed "
                "labels (recovers on the next observed round)",
                RuntimeWarning,
            )
        budget = _OBS_TIMEOUT_SEC if observed else _OBS_PROBE_SEC
        release(labels)  # the superseded round's checkpoint
        labels = new_labels.drop("chg")
        if changed == 0:
            converged = True
            break
    # the result frame derives only from the final (already
    # materialized) labels checkpoint; the edge table is done
    release(sym)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERS} rounds "
            "— refusing to emit truncated cluster labels"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("keep"),
    )


DECON_NGRAM = 8
DECON_EVAL_BUCKETS = 20  # md5 bucket 0 of doc_id → the eval slice (~5%)
DECON_FRAC = 0.5


def _ngrams_col(t, n: int) -> "F.Column":
    """Positional word n-grams via chained shifted zips (each derived
    array is the next HOF's INPUT — the single-evaluation rule; an
    index-lambda slice would re-tokenize per gram). Tails NULL-mask so
    partial grams never form; docs shorter than n yield []."""
    g = t
    for s in range(1, n):
        sh = _shift(t, s)
        g = F.zip_with(
            g,
            sh,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        )
    return F.filter(g, lambda x: x.isNotNull())


def decontaminate(docs: DataFrame) -> DataFrame:
    """Benchmark DECONTAMINATION — the eval-overlap scan every serious
    pretraining pipeline runs (GPT-3 appendix C / PaLM: flag corpus
    docs sharing word n-grams with the evaluation set): per corpus doc,
    how many eval docs it collides with and the maximum fraction of any
    eval doc's distinct n-grams it contains; ``contaminated`` when that
    fraction ≥ ``DECON_FRAC``.

    The eval slice here is the deterministic md5-bucket-0 subset of the
    corpus itself (self-pairs excluded) — at production scale the eval
    table is just a different (small) input with the same schema.

    Scale shape: distinct-gram rows on both sides, equi-join on the
    FULL 128-bit md5 of the gram (the eval side is the small one —
    thousands of benchmark items against 10^12 docs; AQE broadcasts
    it), per-pair counts via map-side-combinable groupBy, LEFT JOIN
    back so every corpus doc gets a verdict. The hash width matters at
    target scale: 3×10^13 corpus grams against a 48-bit key would
    birthday-collide ~10^12 times (pervasive false positives); 128
    bits makes collisions practically impossible. Fractions are
    int/int divisions — bit-exact cross-engine."""
    from .features import hash_bucket

    toks = tokens_col(F.col("text"))
    gh = F.md5(F.col("gram"))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(_ngrams_col(toks, DECON_NGRAM))
        ).alias("gram"),
    ).select("doc_id", gh.alias("h"))
    is_eval = hash_bucket(F.col("doc_id"), DECON_EVAL_BUCKETS) == 0
    egrams = (
        docs.filter(is_eval)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode(
                F.array_distinct(_ngrams_col(toks, DECON_NGRAM))
            ).alias("gram"),
        )
        .select("eval_id", gh.alias("h"))
    )
    etotals = egrams.groupBy("eval_id").agg(F.count("*").alias("n_eval_grams"))
    shared = (
        grams.join(egrams, "h")
        .filter(F.col("doc_id") != F.col("eval_id"))
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
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_eval_docs_hit", F.lit(0)).cast("long").alias("n_eval_docs_hit"),
        F.coalesce("max_overlap_frac", F.lit(0.0)).alias("max_overlap_frac"),
        (F.coalesce("max_overlap_frac", F.lit(0.0)) >= DECON_FRAC).alias(
            "contaminated"
        ),
    )


def gram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram NOVELTY — the memorization/duplication
    signal corpus analyses report (what fraction of a doc's distinct
    word n-grams occurs in NO other document): (doc_id, n_grams,
    n_novel, novelty_frac). 1.0 = fully original text; low values =
    boilerplate/template documents even when no single near-dup pair
    fires.

    Scale shape: distinct-gram rows (128-bit md5 keys, same width
    analysis as decontaminate), gram document-frequencies via ONE
    map-side-combinable groupBy (a 10⁹-doc boilerplate gram reduces to
    one (h, df) row), join back on the hash, per-doc counts; LEFT JOIN
    keeps short docs (<DECON_NGRAM tokens) with n_grams=0 and NULL
    fraction."""
    toks = tokens_col(F.col("text"))
    grams = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams_col(toks, DECON_NGRAM))).alias("gram"),
    ).select("doc_id", F.md5(F.col("gram")).alias("h"))
    # grams are per-doc distinct already, so plain count == distinct
    # doc count without the distinct-aggregation state
    df_counts = grams.groupBy("h").agg(F.count("*").alias("df"))
    per_doc = (
        grams.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.col("n_grams") > 0,
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double"),
        ).alias("novelty_frac"),
    )


BLOOM_M_BITS = 8192   # filter width (bits); sized so the sf0.01 fill
                      # ratio makes false positives measurable
BLOOM_K = 4           # hash functions = disjoint 32-bit md5 slices
BLOOM_SCREEN_DEN = 20  # screened when bloom hits ≥ 1/20 of doc grams


def _bloom_pos(hcol, j: int):
    """Position j of a gram's md5 hex in the BLOOM_M_BITS-wide Bloom filter:
    disjoint 32-bit slices of the one md5 give k independent hash
    functions (sqlgen.hexint_slice is the oracle twin)."""
    return (
        F.conv(F.substring(hcol, 1 + 8 * j, 8), 16, 10).cast("long") % BLOOM_M_BITS
    )


def _bloom_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → per-doc DISTINCT word-n-gram md5 rows (doc_id,
    h) — the shared front end of the Bloom screen (batch or stream)."""
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams_col(toks, DECON_NGRAM))).alias("gram"),
    ).select("doc_id", F.md5(F.col("gram")).alias("h"))


def bloom_bits(eval_h: DataFrame) -> DataFrame:
    """Distinct set-bit table (pos) of the Bloom filter for a distinct
    eval-gram-hash frame — bounded by ``BLOOM_M_BITS`` rows by construction,
    so it is always broadcast-safe (build once, reuse across batch runs
    AND as the STATIC side of a stream-static join)."""
    return (
        eval_h.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("h"), j) for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )


def bloom_gram_hits(grams: DataFrame, bits: DataFrame) -> DataFrame:
    """Per-gram Bloom membership: BLOOM_K broadcast LEFT joins against
    the set-bit table (≤ BLOOM_M_BITS rows), hit iff ALL positions are
    set.
    STREAM-SAFE: contains no aggregation or window, so the same code
    path runs on a batch frame and as a stream-static join on a
    readStream frame (proven equal in tests). → (doc_id, h, bloom_hit).
    """
    g = grams.select(
        "doc_id", "h",
        *[_bloom_pos(F.col("h"), j).alias(f"pos{j}") for j in range(BLOOM_K)],
    )
    for j in range(BLOOM_K):
        bj = F.broadcast(
            bits.select(F.col("pos").alias(f"pos{j}"), F.lit(1).alias(f"m{j}"))
        )
        g = g.join(bj, f"pos{j}", "left")
    hit_all = F.lit(True)
    for j in range(BLOOM_K):
        hit_all = hit_all & F.col(f"m{j}").isNotNull()
    return g.select("doc_id", "h", hit_all.alias("bloom_hit"))


def bloom_decontaminate(docs: DataFrame) -> DataFrame:
    """Bloom-filter decontamination SCREEN + false-positive audit — the
    stage-0 prefilter a 10^12-doc pipeline runs before the exact
    eval-overlap join of :func:`decontaminate`: build a ``BLOOM_M_BITS``-wide
    Bloom set from the eval slice's n-grams (``BLOOM_K`` positions per gram =
    disjoint 32-bit slices of one md5), then test every corpus gram
    against it. Output per doc: gram count, Bloom hits, exact hits
    (ground truth on the same gram sets), false positives and the
    ``screened`` routing verdict (Bloom-hit fraction ≥ 1/BLOOM_SCREEN_DEN).

    Scale shape — the whole point of the Bloom form: the set-bit table
    is bounded by ``BLOOM_M_BITS`` rows (hard ``broadcast`` is safe by
    construction), so the corpus side crosses ``BLOOM_K`` BroadcastHashJoins
    and ONE map-side-combinable groupBy(doc_id) — the corpus never
    shuffles at gram granularity at all, vs. the exact join's
    gram-level exchange. At 3×10^13 corpus grams that is the difference
    between a metadata-sized broadcast and a corpus-wide shuffle; the
    audit columns are what sizes m/k before the fleet run. Eval docs
    hit their own grams by design (a filter has no ids) — the screen
    routes them to the exact stage, which then applies the self-pair
    exclusion.
    """
    from .features import hash_bucket

    grams = _bloom_grams(docs)
    eval_h = (
        grams.filter(hash_bucket(F.col("doc_id"), DECON_EVAL_BUCKETS) == 0)
        .select("h")
        .distinct()
    )
    bits = bloom_bits(eval_h)
    g = bloom_gram_hits(grams, bits)
    exact = eval_h.withColumn("ex", F.lit(1))
    g = g.join(exact, "h", "left")
    per_doc = g.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hit"),
        F.sum(F.coalesce("ex", F.lit(0)).cast("long")).alias("n_exact_hit"),
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    ng = F.coalesce("n_grams", F.lit(0)).cast("long")
    nb = F.coalesce("n_bloom_hit", F.lit(0)).cast("long")
    ne = F.coalesce("n_exact_hit", F.lit(0)).cast("long")
    return out.select(
        "doc_id",
        ng.alias("n_grams"),
        nb.alias("n_bloom_hit"),
        ne.alias("n_exact_hit"),
        (nb - ne).alias("n_false_pos"),
        ((nb * BLOOM_SCREEN_DEN >= ng) & (ng > 0)).alias("screened"),
    )


LINE_SEG_TOKENS = 16


def contamination_report(docs: DataFrame) -> DataFrame:
    """Per-source CONTAMINATION REPORT — the dataset-card rollup of
    :func:`decontaminate` a pretraining run publishes next to its
    mixture table: per source, how many documents overlap the eval
    set, the contamination rate, the worst single overlap fraction and
    the total eval-pair hit mass.

    Scale shape: the decontamination scan dominates (see
    :func:`decontaminate`); the rollup adds one narrow doc_id join to
    the source dim and a combiner-reduced groupBy(source). Rate is one
    int/int division; worst_overlap is a max of already-exact doubles."""
    dec = decontaminate(docs)
    per = dec.join(docs.select("doc_id", "source"), "doc_id")
    n_cont = F.sum(F.col("contaminated").cast("long"))
    return per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        n_cont.cast("long").alias("n_contaminated"),
        (n_cont.cast("double") / F.count("*").cast("double")).alias(
            "contamination_rate"
        ),
        F.max("max_overlap_frac").alias("worst_overlap"),
        F.sum("n_eval_docs_hit").cast("long").alias("total_eval_hits"),
    )


def line_segments(docs: DataFrame) -> DataFrame:
    """C4-style line/segment rows: split on newlines, normalize each
    line (lowercase, whitespace-collapsed, trimmed, empties dropped),
    then sub-chunk every ``LINE_SEG_TOKENS`` whitespace tokens so
    over-long unpunctuated lines — the common shape of scraped web
    text — still segment. Emits (doc_id, line_no, seg_idx, seg).

    Shape: the doc_chunks relational pattern — posexplode tokens →
    groupBy (doc, line, seg) → bounded ordered reassembly. The group
    key carries doc_id, so a hot document can't concentrate a reducer,
    and per-group arrays are bounded by the segment size."""
    norm = F.lower(
        F.trim(F.regexp_replace(F.col("line"), r"[ \t\n\x0B\f\r]+", " "))
    )
    lines = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\n")).alias(
                "line_no", "line"
            ),
        )
        .withColumn("norm", norm)
        .filter(F.col("norm") != "")
    )
    pos = lines.select(
        "doc_id",
        "line_no",
        F.posexplode(F.split("norm", " ")).alias("pos", "tok"),
    ).withColumn("seg_idx", (F.col("pos") / LINE_SEG_TOKENS).cast("long"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    return pos.groupBy("doc_id", "line_no", "seg_idx").agg(
        F.array_join(ordered, " ").alias("seg")
    )


def line_dedup(docs: DataFrame) -> DataFrame:
    """C4-style line-level dedup verdict — the boilerplate killer
    (Raffel et al. 2020 §2.2 deduplicate repeated spans corpus-wide,
    keeping ONE occurrence): per segment row, how often its normalized
    text occurs corpus-wide and whether this row is the kept first
    occurrence (smallest (doc_id, line_no, seg_idx)).

    Scale shape: groupBy on the segment text (map-side combinable)
    computing count + min occurrence, joined back on the segment —
    the exact-dedup shape, never a window over the hot segment. A
    navigation bar repeated on 10^9 pages is ONE group row."""
    segs = line_segments(docs)
    occ = F.struct("doc_id", "line_no", "seg_idx")
    firsts = segs.groupBy("seg").agg(
        F.count("*").alias("n_occ"), F.min(occ).alias("first_occ")
    )
    return (
        segs.join(firsts, "seg")
        .select(
            "doc_id",
            F.col("line_no").cast("long").alias("line_no"),
            "seg_idx",
            "seg",
            F.col("n_occ").cast("long").alias("n_occ"),
            (occ == F.col("first_occ")).alias("keep"),
        )
    )


def old_corpus_hashes(old: DataFrame, hash_col: str = "h") -> DataFrame:
    """Pre-reduce an existing corpus to one row per distinct content
    hash with the smallest holding doc_id (`exact_dup_of`) — the
    exact-admission dimension shared by batch ``incremental_dedup``
    and its streaming twin (streaming/stateful.py). One home so a
    change to exact-stage semantics (hash normalization, tie-break)
    can't drift between the two."""
    from .features import text_hash

    return (
        old.select(
            text_hash(F.col("text")).alias(hash_col),
            F.col("doc_id").alias("o_id"),
        )
        .groupBy(hash_col)
        .agg(F.min("o_id").alias("exact_dup_of"))
    )


def incremental_dedup(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental-ingest dedup — the production shape of 'a new crawl
    lands against a 10¹²-doc existing corpus': verdict for every NEW
    doc against the OLD corpus (a cross-corpus join, never a unioned
    self-join that would re-pair the old corpus against itself).
    Emits (doc_id, exact_dup_of, near_dup_of, near_jaccard, status)
    with status ∈ exact_dup / near_dup / new; exact matches name the
    smallest old holder, near matches the highest-Jaccard (tie →
    smallest old id) verified neighbor ≥ NEAR_DUP_JACCARD.

    Scale shape: the exact stage pre-reduces the old side to one row
    per distinct content hash (groupBy-min — a boilerplate hash can't
    fan out) and equi-joins on the 128-bit hash; near-dup candidates
    come from a band-bucket equi-join of new×old signatures with the
    hot-bucket guard applied to the OLD (unbounded) side; the best
    match per new doc is groupBy-max + arg-min join, never a window.
    Each side's tokenize+shingle+minhash build is materialized because
    two branches read it (banding, and its side of the Jaccard
    verify)."""
    from .features import text_hash

    oldh = old_corpus_hashes(old)
    exact = new.select(
        "doc_id", text_hash(F.col("text")).alias("h")
    ).join(oldh, "h", "left").select("doc_id", "exact_dup_of")

    osig = materialize(with_minhash(old))
    nsig = materialize(with_minhash(new))
    ob = _band_rows(osig).select(
        F.col("doc_id").alias("o_id"), "band", "bucket"
    )
    nb = _band_rows(nsig).select(
        F.col("doc_id").alias("n_id"), "band", "bucket"
    )
    sizes = ob.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    obs = ob.join(
        sizes.filter(F.col("_n") <= MAX_BUCKET).select("band", "bucket"),
        ["band", "bucket"],
    )
    cands = nb.join(obs, ["band", "bucket"]).select("n_id", "o_id").distinct()
    sn = nsig.select(
        F.col("doc_id").alias("n_id"), F.col("shingles").alias("sh_n")
    )
    so = osig.select(
        F.col("doc_id").alias("o_id"), F.col("shingles").alias("sh_o")
    )
    j = F.size(F.array_intersect("sh_n", "sh_o")).cast("double") / F.size(
        F.array_union("sh_n", "sh_o")
    ).cast("double")
    verified = (
        cands.join(sn, "n_id")
        .join(so, "o_id")
        .select("n_id", "o_id", j.alias("jacc"))
        .filter(F.col("jacc") >= NEAR_DUP_JACCARD)
    )
    best_j = verified.groupBy("n_id").agg(F.max("jacc").alias("near_jaccard"))
    best = (
        verified.join(best_j, "n_id")
        .filter(F.col("jacc") == F.col("near_jaccard"))
        .groupBy("n_id", "near_jaccard")
        .agg(F.min("o_id").alias("near_dup_of"))
        .withColumnRenamed("n_id", "doc_id")
    )
    out = exact.join(best, "doc_id", "left")
    status = (
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return out.select(
        "doc_id",
        "exact_dup_of",
        "near_dup_of",
        "near_jaccard",
        status.alias("status"),
    )


SWEEP_THRESHOLDS_10 = (5, 6, 7, 8, 9)  # threshold ladder, tenths


def dedup_threshold_sweep(
    docs: DataFrame, withsig: DataFrame | None = None
) -> DataFrame:
    """Operating-point SWEEP for the near-dup verifier: at each
    threshold t in the ladder, how many LSH candidate pairs the
    signature ESTIMATE would pass vs the exact Jaccard, with the
    estimator's precision/recall against exact-at-t — the curve that
    picks the production threshold before a 100 TB run. All
    classifications are INTEGER cross-multiplications
    (n_agree·10 ≥ t₁₀·NUM_HASHES; |∩|·10 ≥ t₁₀·|∪|), so no float
    boundary decides a count. Per-pair math is narrow; the ladder is a
    5-row explode; output is 5 rows."""
    withsig = with_minhash(docs) if withsig is None else withsig
    pairs = lsh_candidate_pairs(withsig)
    sa = withsig.select(
        F.col("doc_id").alias("a"),
        F.col("shingles").alias("sh_a"),
        F.col("minhash").alias("mh_a"),
    )
    sb = withsig.select(
        F.col("doc_id").alias("b"),
        F.col("shingles").alias("sh_b"),
        F.col("minhash").alias("mh_b"),
    )
    n_agree = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    )
    base = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            n_agree.cast("long").alias("n_agree"),
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("ni"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("nu"),
        )
    )
    lad = base.select(
        "*",
        F.explode(
            F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS_10])
        ).alias("t10"),
    )
    est_pos = (F.col("n_agree") * 10 >= F.col("t10") * NUM_HASHES).cast("long")
    ex_pos = (F.col("ni") * 10 >= F.col("t10") * F.col("nu")).cast("long")
    agg = lad.groupBy("t10").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(est_pos).alias("n_est_pos"),
        F.sum(ex_pos).alias("n_exact_pos"),
        F.sum(est_pos * ex_pos).alias("n_true_pos"),
    )
    return agg.select(
        (F.col("t10").cast("double") / 10.0).alias("threshold"),
        "n_pairs",
        "n_est_pos",
        "n_exact_pos",
        "n_true_pos",
        (F.col("n_true_pos").cast("double")
         / F.greatest("n_est_pos", F.lit(1)).cast("double")).alias("precision"),
        (F.col("n_true_pos").cast("double")
         / F.greatest("n_exact_pos", F.lit(1)).cast("double")).alias("recall"),
    )


def minhash_calibration(
    docs: DataFrame, withsig: DataFrame | None = None
) -> DataFrame:
    """Sketch-quality calibration over the LSH candidate pairs: the
    MinHash signature-agreement estimate of Jaccard (matching
    positions / NUM_HASHES — the unbiased estimator the sketch is
    built on) side-by-side with the exact shingle Jaccard and the
    absolute error — the measurement that justifies (or indicts) the
    signature size before a 100 TB dedup run commits to it.

    Scale shape: candidates come from the banded bucket equi-join
    (hot-bucket guarded); the comparison is narrow per-pair array math
    (16 ints + set ops on the pair's own shingles). Pass ``withsig``
    (a with_minhash frame, e.g. the caller's cached one) to share the
    signature build with other dedup stages."""
    withsig = with_minhash(docs) if withsig is None else withsig
    pairs = lsh_candidate_pairs(withsig)
    sa = withsig.select(
        F.col("doc_id").alias("a"),
        F.col("shingles").alias("sh_a"),
        F.col("minhash").alias("mh_a"),
    )
    sb = withsig.select(
        F.col("doc_id").alias("b"),
        F.col("shingles").alias("sh_b"),
        F.col("minhash").alias("mh_b"),
    )
    n_agree = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v
        )
    )
    est = n_agree.cast("double") / F.lit(NUM_HASHES).cast("double")
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            n_agree.cast("long").alias("n_agree"),
            est.alias("est_jaccard"),
            j.alias("jaccard"),
            F.abs(est - j).alias("abs_err"),
        )
    )


def cluster_size_stats(clusters: DataFrame) -> DataFrame:
    """Near-dup cluster-size distribution — the dataset-card profile a
    dedup run reports (how much of the corpus sits in 2-clusters vs a
    handful of mega-clusters). (id, cluster_id, ...) →
    (cluster_size, n_clusters, n_docs).

    Scale shape: two map-side-combinable groupBys (per-cluster count,
    then per-size count); the output is at most |distinct sizes| rows."""
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    counts = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    return counts.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs"),
    )


def keep_best_in_cluster(clusters: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware keeper selection per near-dup cluster — the
    refinement real pipelines apply over min-id keep: retain the
    highest-quality member (tie → smallest id) instead of an arbitrary
    one. ``clusters`` = (doc_id, cluster_id, ...) from
    :func:`connected_components`; ``scores`` = (doc_id,
    avg_score_milli) from e.g. textstats.quality_score.

    Scale shape: ONE map-side-combinable max_by per cluster on the
    (score, −id) ordering struct — identical winner to max-score with
    min-id tie-break — + one equi-join back; a 10⁶-member cluster is
    combiner-reduced, never a single-reducer window (previously a
    max + join-back + filter + min chain: two aggregations and an
    extra join for the same argmax)."""
    scored = clusters.select("doc_id", "cluster_id").join(
        scores.select("doc_id", "avg_score_milli"), "doc_id"
    )
    keeper = scored.groupBy("cluster_id").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("avg_score_milli"), (-F.col("doc_id")).alias("ni")),
        ).alias("_keeper")
    )
    return scored.join(keeper, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "avg_score_milli",
        (F.col("doc_id") == F.col("_keeper")).alias("keep_best"),
    )


def span_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup over the ordered INTERLEAVED span sequence — the
    multimodal-aware twin of the text-hash exact dedup (T1): the
    fingerprint covers (kind, media_ref, text) in extraction order, so
    two docs with identical text but different media are NOT collapsed.
    Emits (doc_id, span_fp, n_occ, keep) for every doc with ≥1
    extracted span; keep = smallest doc_id of the group.

    Scale shape: the fingerprint tape is a narrow array fold inside the
    extraction projection (no shuffle), then the exact-dedup groupBy on
    the 128-bit fp (map-side combinable) + join-back — never a window
    over a hot fingerprint."""
    from .extraction import extract_ordered_spans

    ex = extract_ordered_spans(docs)
    piece = lambda s: F.concat_ws(  # noqa: E731
        "|", s["kind"], s["media_ref"], s["text"]
    )
    tape = F.array_join(
        F.transform(F.col("spans"), piece), "\x1f"
    )
    fps = ex.filter(F.size("spans") > 0).select(
        "doc_id", F.md5(tape).alias("span_fp")
    )
    groups = fps.groupBy("span_fp").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.min("doc_id").alias("keeper_id"),
    )
    return fps.join(groups, "span_fp").select(
        "doc_id",
        "span_fp",
        "n_occ",
        (F.col("doc_id") == F.col("keeper_id")).alias("keep"),
    )


def doc_line_trim(docs: DataFrame) -> DataFrame:
    """Intra-document repeated-line removal — the WITHIN-doc member of
    the C4/Gopher line-rule family (:func:`line_dedup` is the
    corpus-wide twin): drop every repeat of a normalized segment after
    its first occurrence within the same document and rebuild the kept
    text in reading order. Emits (doc_id, n_segs, n_kept, kept_text);
    docs with no nonempty lines keep a row with empty text.

    Scale shape: every group key carries doc_id (no corpus-wide hot
    key — a navbar repeated across 10⁹ docs never concentrates a
    reducer here), the rebuild is the extraction ordered-concat
    pattern (collect_list bounded by document size), and the final
    left join restores unsegmentable docs."""
    segs = line_segments(docs)
    occ = F.struct(
        F.col("line_no").cast("long").alias("line_no"),
        F.col("seg_idx").cast("long").alias("seg_idx"),
    )
    firsts = segs.groupBy("doc_id", "seg").agg(
        F.count("*").cast("long").alias("n_occ"),
        F.min(occ).alias("first_occ"),
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("first_occ").alias("o"), F.col("seg").alias("s")
                )
            )
        ),
        lambda s: s["s"],
    )
    per_doc = firsts.groupBy("doc_id").agg(
        F.sum("n_occ").cast("long").alias("n_segs"),
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(ordered, "\n").alias("kept_text"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0)).cast("long").alias("n_segs"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def simhash(docs: DataFrame) -> DataFrame:
    """16-bit SimHash over distinct tokens: per bit, sum ±1 weighted by
    the token-hash bit, sign → bit. Token hash = first 8 md5 hex chars
    as int (engine-portable)."""
    toks = F.array_distinct(tokens_col(F.col("text")))
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    def _contrib(bb: int):
        # closure factory: a default-arg lambda would be seen as a
        # two-arg lambda and receive the element index instead
        return F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.when((F.shiftright(x, bb) % 2) == 1, 1).otherwise(-1),
        )

    bit_cols = []
    for bbit in range(SIMHASH_BITS):
        contrib = _contrib(bbit)
        bit_cols.append(F.when(contrib >= 0, F.lit(2**bbit)).otherwise(F.lit(0)))
    fp = bit_cols[0]
    for c in bit_cols[1:]:
        fp = fp + c
    return docs.select("doc_id", fp.cast("long").alias("simhash"))


SIMHASH_BAND_BITS = 4
SIMHASH_HAM_MAX = 3


def simhash_candidate_pairs(fps: DataFrame) -> DataFrame:
    """Banded SimHash near-dup pairs — the Manku/Jain/Das Sarma web-dedup
    shape (WWW'07): split the fingerprint into bands, equi-join docs that
    share any band verbatim, verify candidates by full hamming distance.

    Completeness by pigeonhole: 16 bits in 4 bands — a pair within
    hamming distance SIMHASH_HAM_MAX = 3 has at most 3 differing bits, which
    cannot touch all 4 bands, so at least one band matches exactly and
    the banded equi-join (never an all-pairs join) finds EVERY such
    pair. Hot-band guard as in the MinHash-LSH path: a band value
    shared by more than ``MAX_BUCKET`` docs is boilerplate — dropped
    (those members collapse via the exact-hash path instead).

    Emits (a, b, hamming) with a < b, hamming = popcount(fp_a XOR fp_b)
    ≤ SIMHASH_HAM_MAX."""
    nb = SIMHASH_BITS // SIMHASH_BAND_BITS
    band_vals = F.array(
        *[
            (
                F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * b)
                % (1 << SIMHASH_BAND_BITS)
            ).cast("int")
            for b in range(nb)
        ]
    )
    bands = fps.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "val")
    )
    sizes = bands.groupBy("band", "val").agg(F.count("*").alias("_n"))
    small = bands.join(
        sizes.filter(F.col("_n") <= MAX_BUCKET).select("band", "val"),
        ["band", "val"],
    )
    a = small.select(F.col("doc_id").alias("a"), F.col("simhash").alias("fa"), "band", "val")
    b = small.select(F.col("doc_id").alias("b"), F.col("simhash").alias("fb"), "band", "val")
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()
        .filter(ham <= SIMHASH_HAM_MAX)
        .select("a", "b", ham.cast("long").alias("hamming"))
    )


# ------------------------------------------------- verbatim-span dedup
SUBSTR_GRAM_K = 10  # tokens per verbatim window (Lee et al. use 50)


def substring_dup_stats(docs: DataFrame) -> DataFrame:
    """ExactSubstr-style verbatim-span duplication stats (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    a token window of length *k* = ``SUBSTR_GRAM_K`` is DUPLICATED if
    its exact text occurs ≥2 times anywhere in the corpus (any doc,
    including the same doc).
    Emits per doc: n_tokens, n_dup_grams (duplicated window starts),
    dup_tokens (tokens covered by ≥1 duplicated window, exact interval
    union), dup_token_frac.

    Spark-first shape — the suffix array of the paper is a single-node
    construction; the same ≥k-token verbatim criterion distributes as:

    1. positional k-gram hashes per doc — one narrow ``transform`` over
       a ``sequence`` (no shuffle), full 128-bit md5 text keys (48 bits
       would birthday-collide at web scale, same analysis as the
       decontamination join);
    2. duplicated hashes via groupBy(hash) HAVING count ≥2 — map-side
       combinable, the only corpus-wide shuffle;
    3. join the position rows back on the hash (equi-join), then ONE
       self-keyed window per doc (ORDER BY pos) turns overlapping
       windows into an exact interval-union token count:
       contribution = min(k, next_pos − pos), last window counts k.

    A 10⁹-fold repeated boilerplate gram produces one hot hash group —
    but stage 2 reduces it map-side to a single (hash, count) row; the
    join-back fan-out equals the input's own position rows, never more.
    """
    base, pos_rows = _gram_pos_frames(docs, SUBSTR_GRAM_K)
    dup_hashes = (
        pos_rows.groupBy("gh")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gh")
    )
    dup_pos = pos_rows.join(dup_hashes, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    covered = (
        dup_pos.withColumn("nxt", F.lead("pos").over(w))
        .withColumn(
            "cov",
            F.when(F.col("nxt").isNull(), F.lit(SUBSTR_GRAM_K)).otherwise(
                F.least(F.lit(SUBSTR_GRAM_K), F.col("nxt") - F.col("pos"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_grams"),
            F.sum("cov").alias("dup_tokens"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ).alias("dup_token_frac"),
        )
    )


def _gram_pos_frames(docs: DataFrame, k: int) -> tuple:
    """Shared k-gram position builder for the ExactSubstr family:
    returns (base = (doc_id, n_tokens, gram structs), pos_rows =
    (doc_id, pos, gh)). See :func:`substring_dup_stats` for the
    chained-zip rationale (the transform(sequence, slice) form is the
    O(n²) HOF re-evaluation trap)."""
    toks = tokens_col(F.col("text"))
    # k-gram strings via k−1 chained shifted zips (NULL-masked tails),
    # NOT transform(sequence, i -> slice(toks, i+1, k)): an expression
    # referenced inside a HOF lambda re-evaluates per element, so the
    # slice form re-tokenizes the document per gram position — O(n²)
    # interpreted (measured 12.6 s vs 1.6 s at sf0.1). Each zip's inputs
    # are whole arrays, evaluated once per row.
    g = toks
    for j in range(1, k):
        s = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        g = F.zip_with(
            g,
            s,
            lambda a, b: F.when(
                a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)
            ),
        )
    grams = F.filter(
        F.transform(
            g,
            lambda x, i: F.struct(
                i.cast("int").alias("pos"), F.md5(x).alias("gh")
            ),
        ),
        lambda st: st["gh"].isNotNull(),
    )
    base = docs.select(
        "doc_id", F.size(toks).cast("long").alias("n_tokens"), grams.alias("g")
    )
    pos_rows = base.select(
        "doc_id", F.explode("g").alias("s")
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.gh").alias("gh"))
    return base, pos_rows


def substring_rewrite(docs: DataFrame) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022 §4.2 — "remove all but
    one"): every ``SUBSTR_GRAM_K``-token verbatim window occurring ≥2 times in the
    corpus is removed except its FIRST occurrence (min (doc_id, pos)
    corpus-wide); emits the rewritten token stream per document,
    (doc_id, n_tokens, n_removed, kept_text). Operates on the shared
    token stream (the suffix-array byte form is single-node), so
    kept_text is the surviving tokens space-joined — the filter-stage
    rewrite, not a byte-identical excision.

    Scale shape: the keeper is groupBy(gh) min(struct(doc_id, pos)) —
    map-side combinable, NEVER row_number over the gram hash (a
    boilerplate gram repeated 10⁹× would single-reduce a window;
    CLAUDE.md hot-key rule); removed-window starts fan out to covered
    positions via sequence-explode (≤k rows per removed window, only
    duplicated spans pay it); survivors via LEFT ANTI equi-join on
    (doc_id, pos); the rebuild is the ordered-fold recipe keyed by the
    doc itself. The first occurrence of a span whose OTHER copies are
    elsewhere can still lose tokens to a different overlapping
    duplicated window — inherent to windowed ExactSubstr, documented
    in Lee et al.'s appendix as well."""
    base, pos_rows = _gram_pos_frames(docs, SUBSTR_GRAM_K)
    occ = pos_rows.groupBy("gh").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).alias("keep"),
    )
    removed = (
        pos_rows.join(occ.filter(F.col("n_occ") >= 2), "gh")
        .filter(
            ~(
                (F.col("doc_id") == F.col("keep.doc_id"))
                & (F.col("pos") == F.col("keep.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    covered = removed.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(SUBSTR_GRAM_K - 1))
        ).alias("p"),
    )
    tok_rows = docs.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("p", "tok")
    )
    kept_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "tok"))),
            lambda s: s["tok"],
        ),
        " ",
    )
    reb = (
        tok_rows.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_kept"), kept_text.alias("kept_text"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(reb, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


CONTAIN_MIN = 0.5     # pair kept when max-direction containment ≥ this
CONTAIN_STRONG = 0.8  # direction classified as containment
CONTAIN_DUP_J = 0.9   # jaccard at/above which the pair is a duplicate


def containment_pairs(
    docs_with_shingles: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Asymmetric containment scoring of LSH candidate pairs — the
    relation Jaccard alone misses: a page EMBEDDED in a larger page
    (quoting, templating, syndication) has low Jaccard but containment
    ≈ 1 in one direction. Per pair: c_ab = |A∩B|/|A| (fraction of A
    inside B), c_ba = |A∩B|/|B|, jaccard, and the classified relation
    (duplicate ≥ CONTAIN_DUP_J jaccard; a_in_b / b_in_a at
    CONTAIN_STRONG one-directional containment, tie → a_in_b; else
    overlap). Pairs below CONTAIN_MIN max-direction containment drop.

    Same scale shape as the jaccard verify: equi-join on the bounded
    LSH buckets, per-pair work is two array intersections over already
    materialized shingle arrays.
    """
    sa = docs_with_shingles.select(
        F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a")
    )
    sb = docs_with_shingles.select(
        F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_ab = inter / F.size("sh_a").cast("double")
    c_ba = inter / F.size("sh_b").cast("double")
    jacc = inter / F.size(F.array_union("sh_a", "sh_b")).cast("double")
    relation = (
        F.when(jacc >= CONTAIN_DUP_J, F.lit("duplicate"))
        .when((c_ab >= CONTAIN_STRONG) & (c_ab >= c_ba), F.lit("a_in_b"))
        .when(c_ba >= CONTAIN_STRONG, F.lit("b_in_a"))
        .otherwise(F.lit("overlap"))
    )
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a", "b",
            c_ab.alias("contain_ab"),
            c_ba.alias("contain_ba"),
            jacc.alias("jaccard"),
            relation.alias("relation"),
        )
        .filter(F.greatest("contain_ab", "contain_ba") >= CONTAIN_MIN)
    )
