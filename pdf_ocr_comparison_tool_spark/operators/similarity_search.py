"""Approximate-nearest-neighbor search over embedding columns.

* :func:`ann_brute_topk` — brute-force cosine top-k (the correctness
  baseline). Dot products are plain double arithmetic folded LEFT-TO-
  RIGHT over the array (Spark ``aggregate`` = DuckDB ``list_reduce``,
  both sequential left folds): embedding elements are float32, so each
  double product is exact (24+24 < 53 mantissa bits), and the identical
  fold order makes every intermediate rounding identical — bit-exact
  cross-engine without the ~16× cost of per-element DECIMAL(38,12)
  casts (round-1 lesson: the decimal variant ran 29.5 s at sf0.1;
  ranking emits integer (query, rank, neighbor) rows either way).

* :func:`lsh_bucket` — random-hyperplane (SimHash-for-vectors) bucket
  signatures, the scale path: at 10^12 rows the brute-force cross join
  is infeasible; bucketing on the signature turns ANN into an equi-join
  on bucket + a small in-bucket rerank. Hyperplane weights are a
  deterministic integer lattice so both engines agree exactly, including
  at the sign boundary (same left-fold double sums).

Scale notes: the query side is broadcast (queries ≪ candidates); the
candidate scan is narrow; top-k is one window shuffle on query id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize

EMB_DIM = 64
LSH_BITS = 16
ANN_N_QUERIES = 8  # bounded eval probe set of the ANN searches
ANN_TOPK = 10


def _dot(a, b) -> "F.Column":
    """Double dot product, sequential left fold (see module docstring:
    bit-identical to DuckDB's list_reduce on float32 inputs)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def ann_brute_topk(
    embeddings: DataFrame, n_queries: int = ANN_N_QUERIES, k: int = ANN_TOPK
) -> DataFrame:
    """(vec_id, embedding) → (q_id, rank, c_id) for the first n_queries
    vectors against the whole table."""
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    q = norms.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("nsq").alias("q_nsq"),
    )
    c = norms.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.col("nsq").alias("c_nsq"),
    )
    sim = _dot("qv", "cv").cast("double") / (
        F.sqrt(F.col("q_nsq").cast("double")) * F.sqrt(F.col("c_nsq").cast("double"))
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "c_id")
    )


def lsh_bucket(embeddings: DataFrame, bits: int = LSH_BITS) -> DataFrame:
    """(vec_id, embedding) → (vec_id, bucket) with a ``bits``-bit
    random-hyperplane signature."""
    def _bit_sum(jj: int):
        # closure factory (not a default-arg lambda: transform would
        # bind the element index to the extra parameter)
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(EMB_DIM - 1)),
                lambda i: (
                    F.element_at("embedding", i + 1).cast("double")
                    * ((i * 31 + F.lit(jj * 17)) % 7 - 3).cast("double")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.lit(0).cast("long")
    for j in range(bits):
        s = _bit_sum(j)
        bucket = bucket + F.when(s >= 0, F.lit(2**j)).otherwise(F.lit(0))
    return embeddings.select("vec_id", bucket.cast("long").alias("bucket"))


LSH_SEARCH_BITS = 8  # search variant: coarser buckets → usable recall
LSH_MAX_BUCKET = 256  # hot-bucket guard of the embedding-LSH self-joins


def lsh_search(
    embeddings: DataFrame, n_queries: int = ANN_N_QUERIES, k: int = ANN_TOPK
) -> DataFrame:
    """End-to-end LSH ANN search: probe bucket → bucket equi-join →
    exact-cosine rerank → top-k. THE scale path: candidate generation
    is an equi-join on the bucket id (shuffle-hash/broadcast, never a
    cross join), rerank touches only in-bucket candidates.

    Emits (q_id, rank, c_id, sim); queries whose bucket holds fewer
    than k neighbors emit fewer rows (approximate by design — recall
    vs the brute-force baseline is pinned in tests)."""
    b = lsh_bucket(embeddings, LSH_SEARCH_BITS)
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    probes = (
        b.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("q_id"), "bucket")
        .join(
            norms.select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("qv"),
                F.col("nsq").alias("q_nsq"),
            ),
            "q_id",
        )
    )
    cands = b.join(
        norms.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("cv"),
            F.col("nsq").alias("c_nsq"),
        ),
        b.vec_id == F.col("c_id"),
    ).select("c_id", "bucket", "cv", "c_nsq")
    sim = _dot("qv", "cv") / (
        F.sqrt(F.col("q_nsq")) * F.sqrt(F.col("c_nsq"))
    )
    pairs = (
        cands.join(F.broadcast(probes), "bucket")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "c_id", "sim")
    )


IVF_N_CENTROIDS = 16
IVF_NPROBE = 4


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = IVF_N_CENTROIDS,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid.

    Centroids default to the first ``n_centroids`` vectors — the
    deterministic stand-in for the offline fit — or pass ``centroids``
    (centroid_id, cv), e.g. the output of :func:`kmeans_fit`, to use a
    trained quantizer: the fit's output is just another small broadcast
    table, which is exactly what this consumes. Distances use the
    order-fixed double-fold dot construction so assignments are
    engine/partitioning invariant, including ties (broken by centroid
    id).

    The inverted lists this produces turn ANN into: probe the
    ``IVF_NPROBE`` nearest centroids, equi-join on centroid_id, rerank
    within — a bucket equi-join instead of a cross join, same shape as
    :func:`lsh_bucket` but data-adaptive.
    """
    if centroids is None:
        cents = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
            _dot("embedding", "embedding").alias("c_nsq"),
        )
    else:
        cents = centroids.select(
            "centroid_id", "cv", _dot("cv", "cv").alias("c_nsq")
        )
    vecs = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("v_nsq")
    )
    # squared L2 distance = |v|^2 - 2<v,c> + |c|^2, all order-fixed
    dist = (
        F.col("v_nsq").cast("double")
        - 2.0 * _dot("embedding", "cv").cast("double")
        + F.col("c_nsq").cast("double")
    )
    pairs = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", dist.alias("dist")
    )
    # argmin as a map-side-combinable struct-min (lexicographic on
    # (dist, centroid_id) — identical winner and tie-break to the
    # previous row_number window, without the per-vector sort shuffle)
    m = pairs.groupBy("vec_id").agg(
        F.min(F.struct(F.col("dist"), F.col("centroid_id"))).alias("m")
    )
    return m.select(
        "vec_id",
        F.col("m.centroid_id").alias("centroid_id"),
        F.col("m.dist").alias("dist"),
    )


def ivf_search(
    embeddings: DataFrame,
    n_queries: int = ANN_N_QUERIES,
    k: int = ANN_TOPK,
    n_centroids: int = IVF_N_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """End-to-end IVF ANN search: nprobe nearest centroids per query →
    equi-join on centroid_id against the inverted lists → exact-cosine
    rerank → top-k. Scans 1/(n_centroids/nprobe) of the corpus per
    query instead of all of it; candidate generation is an equi-join.
    ``centroids`` (centroid_id, cv) swaps in a trained quantizer (e.g.
    :func:`kmeans_fit`) for the first-N stand-in.

    Emits (q_id, rank, c_id, sim)."""
    assign = ivf_assign(embeddings, n_centroids, centroids=centroids).select(
        "vec_id", "centroid_id"
    )
    if centroids is None:
        cents = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv0"),
            _dot("embedding", "embedding").alias("c0_nsq"),
        )
    else:
        cents = centroids.select(
            "centroid_id",
            F.col("cv").alias("cv0"),
            _dot("cv", "cv").alias("c0_nsq"),
        )
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    q = norms.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("nsq").alias("q_nsq"),
    )
    qdist = (
        F.col("q_nsq")
        - 2.0 * _dot("qv", "cv0")
        + F.col("c0_nsq")
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("qd"), F.asc("centroid_id"))
    probe_lists = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "qv", "q_nsq", "centroid_id", qdist.alias("qd"))
        .withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= nprobe)
        .select("q_id", "qv", "q_nsq", "centroid_id")
    )
    cands = assign.join(
        norms.select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("cv"),
            F.col("nsq").alias("c_nsq"),
        ),
        assign.vec_id == F.col("c_id"),
    ).select("c_id", "centroid_id", "cv", "c_nsq")
    sim = _dot("qv", "cv") / (F.sqrt(F.col("q_nsq")) * F.sqrt(F.col("c_nsq")))
    pairs = (
        cands.join(F.broadcast(probe_lists), "centroid_id")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "c_id", "sim")
    )


def _recall_against(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approx (q_id, c_id) result set against
    an exact one: |approx ∩ exact| / k (one int/int division). One
    (q_id, c_id) equi-join + a tiny per-query groupBy."""
    hits = (
        approx.join(truth, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    qids = truth.select("q_id").distinct()
    n_hits = F.coalesce("n_hits", F.lit(0)).cast("long")
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        n_hits.alias("n_hits"),
        F.lit(k).cast("long").alias("k"),
        (n_hits.cast("double") / F.lit(k).cast("double")).alias("recall"),
    )


def ann_recall(
    embeddings: DataFrame,
    n_queries: int = ANN_N_QUERIES,
    k: int = ANN_TOPK,
    n_centroids: int = IVF_N_CENTROIDS,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Recall@k of the IVF search against the brute-force ground truth
    — the eval metric an ANN deployment is actually judged by.

    Scale shape: the ground truth is the explicitly BOUNDED brute
    baseline (n_queries eval probes, never the corpus); the approx side
    is the production inverted-list equi-join path."""
    truth = ann_brute_topk(embeddings, n_queries, k).select("q_id", "c_id")
    approx = ivf_search(embeddings, n_queries, k, n_centroids, nprobe).select(
        "q_id", "c_id"
    )
    return _recall_against(truth, approx, k)


TRUNC_DIM = 16  # Matryoshka truncation eval: keep the first 16 of 64


def mrl_truncation_recall(embeddings: DataFrame) -> DataFrame:
    """Matryoshka (MRL) truncation eval: recall@k of cosine top-k over
    the FIRST ``TRUNC_DIM`` dimensions against the full-dimension
    ground truth — the measurement behind serving embeddings at a
    fraction of their stored width (truncate + renormalize ≡ cosine on
    the prefix). Both sides are the explicitly bounded brute baseline;
    the truncated side just slices the vector column, so at corpus
    scale this evaluates BEFORE re-encoding anything. (The synthetic
    Gaussian embeddings carry no Matryoshka structure, so measured
    recall sits near the k/N random baseline of ~0.02 -- the harness
    proves the metric; an MRL-trained corpus supplies the signal.)"""
    truth = ann_brute_topk(embeddings).select("q_id", "c_id")
    trunc = embeddings.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIM).alias("embedding")
    )
    approx = ann_brute_topk(trunc).select("q_id", "c_id")
    return _recall_against(truth, approx, ANN_TOPK)


def lsh_near_dups(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs THE SCALE WAY: bucket
    self-join on the random-hyperplane signature + exact-cosine verify
    of in-bucket candidates only — never an all-pairs cross join (the
    `embedding_near_dups` brute baseline is explicitly bounded).
    Buckets larger than ``LSH_MAX_BUCKET`` are dropped (hot-bucket guard,
    same pattern as the MinHash-LSH dedup) so the b·(b−1)/2 in-bucket
    blowup is bounded; random hyperplanes keep buckets balanced, so at
    10¹² rows the guard only fires on degenerate signatures (e.g. the
    all-zeros vector). Pairs verify at cosine >= 0.35."""
    b = lsh_bucket(embeddings, LSH_SEARCH_BITS)
    small = b.groupBy("bucket").count().filter(F.col("count") <= LSH_MAX_BUCKET)
    bs = b.join(small.select("bucket"), "bucket")
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    x = bs.join(norms, "vec_id").select(
        F.col("vec_id").alias("a"), "bucket",
        F.col("embedding").alias("av"), F.col("nsq").alias("a_nsq"),
    )
    y = bs.join(norms, "vec_id").select(
        F.col("vec_id").alias("b"), "bucket",
        F.col("embedding").alias("bv"), F.col("nsq").alias("b_nsq"),
    )
    sim = _dot("av", "bv") / (F.sqrt(F.col("a_nsq")) * F.sqrt(F.col("b_nsq")))
    return (
        x.join(y, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.35)
    )


KNN_K = 3
HARDNEG_K = 3
HARDNEG_MAX_SIM = 0.95


def _knn_pairs(embeddings: DataFrame) -> DataFrame:
    """Directed candidate pairs (vec_id, nbr_id, sim) from the LSH
    bucket self-join — the shared front end of knn_join /
    hard_negatives. Equi-join on bucket, hot-bucket guarded; never
    all-pairs."""
    b = lsh_bucket(embeddings, LSH_SEARCH_BITS)
    small = b.groupBy("bucket").count().filter(F.col("count") <= LSH_MAX_BUCKET)
    bs = b.join(small.select("bucket"), "bucket")
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    x = bs.join(norms, "vec_id").select(
        "vec_id", "bucket",
        F.col("embedding").alias("xv"), F.col("nsq").alias("x_nsq"),
    )
    y = bs.join(norms, "vec_id").select(
        F.col("vec_id").alias("nbr_id"), "bucket",
        F.col("embedding").alias("yv"), F.col("nsq").alias("y_nsq"),
    )
    sim = _dot("xv", "yv") / (F.sqrt(F.col("x_nsq")) * F.sqrt(F.col("y_nsq")))
    return (
        x.join(y, "bucket")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "nbr_id", sim.alias("sim"))
    )


def knn_join(embeddings: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """All-corpus approximate kNN SELF-JOIN — every vector gets its
    top-k cosine neighbors (not just a probe set): the shape semantic
    dedup / clustering / hard-negative mining runs over the whole
    corpus. Candidates come from the LSH bucket self-join (equi-join,
    hot-bucket guarded — never all-pairs); ranking is a per-vector
    window whose partition key is the vector itself, so fan-in is
    bounded by the bucket size. Vectors whose bucket holds fewer than
    k neighbors emit fewer rows (approximate by design, like
    lsh_search). Emits (vec_id, rank, nbr_id, sim). ``pairs=`` lets a
    multi-consumer caller (the ``--job embed`` CLI) inject an
    already-materialized _knn_pairs frame."""
    if pairs is None:
        pairs = _knn_pairs(embeddings)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("vec_id", F.col("rank").cast("long").alias("rank"), "nbr_id", "sim")
    )


def hard_negatives(
    embeddings: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR / SimCSE
    style, public): per anchor, the top-``HARDNEG_K`` most-similar
    in-bucket neighbors whose label DIFFERS from the anchor's. Neighbors
    at or above ``HARDNEG_MAX_SIM`` are excluded as probable false negatives
    (mislabeled near-duplicates) — the standard guard in public
    hard-negative pipelines. The label filter runs BEFORE the top-k
    window, so the output is the best-k among negatives, not the
    negatives that happen to sit in the overall top-k.

    Scale shape: rides :func:`_knn_pairs` (LSH bucket equi-join,
    hot-bucket guarded); labels join in from the narrow
    (vec_id, label) projection; the ranking window is keyed by the
    anchor itself, fan-in ≤ bucket size. Emits
    (vec_id, label, neg_rank, neg_id, neg_label, sim). ``pairs=`` is
    the shared-build hook (a materialized _knn_pairs frame)."""
    if pairs is None:
        pairs = _knn_pairs(embeddings)
    own = embeddings.select("vec_id", "label")
    nbr = embeddings.select(
        F.col("vec_id").alias("nbr_id"), F.col("label").alias("neg_label")
    )
    neg = (
        pairs.join(own, "vec_id")
        .join(nbr, "nbr_id")
        .filter(
            (F.col("neg_label") != F.col("label"))
            & (F.col("sim") < F.lit(HARDNEG_MAX_SIM))
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("nbr_id"))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= HARDNEG_K)
        .select(
            "vec_id", "label",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.col("nbr_id").alias("neg_id"), "neg_label", "sim",
        )
    )


PAGERANK_ITERS = 3
PAGERANK_RESET = 0.15   # GraphX resetProb (public semantics)
PAGERANK_DAMP = 0.85    # spec constant, NOT derived as 1-reset (float)


def pagerank_centrality(
    embeddings: DataFrame, knn: DataFrame | None = None
) -> DataFrame:
    """PageRank-style centrality over the approximate-kNN semantic
    graph, with GraphX/Pregel semantics (public): r0 = 1.0,
    r_{t+1}(v) = 0.15 + 0.85 * Σ_{u→v} r_t(u)/outdeg(u), a FIXED
    iteration count and no dangling-mass redistribution (mass leaks,
    exactly as in Spark's own GraphX PageRank). This is the
    representativeness signal curation pipelines use to pick canonical
    documents per semantic neighborhood.

    Determinism: each node's inbound sum is an ordered fold (collect
    sorted by src id → left fold, 0.0 seed — the k-means recipe), and
    reset + damp * sum is a fixed chain of IEEE ops, so ranks cross
    the oracle boundary bit-equal.

    Scale shape: edges ride knn_join's LSH bucket equi-join
    (hot-bucket guarded, materialized ONCE so the LSH subtree
    isn't recomputed per round — the CC pattern); in-degree (fold
    fan-in) is bounded by the bucket cap; each round is two equi-joins
    + one map-side-groupable aggregate. No window, no global
    aggregate, no driver round-trips beyond the fixed loop. ``knn=``
    injects an already-materialized knn_join frame (the ``--job
    embed`` CLI); the edge checkpoint is then skipped since the
    caller's already cuts the LSH subtree."""
    base = knn if knn is not None else knn_join(embeddings)
    edges = base.select(
        F.col("vec_id").alias("src"), F.col("nbr_id").alias("dst")
    )
    if knn is None:
        edges = materialize(edges)
    # out-degree and node dims are referenced by EVERY round's nested
    # plan — eager checkpoints materialize each once (tiny frames)
    # instead of once per iteration (A/B 3.37 → 2.87 s at sf0.1)
    out = materialize(
        edges.groupBy("src").agg(F.count("*").cast("long").alias("out_cnt"))
    )
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    for _ in range(PAGERANK_ITERS):
        c = (
            edges.join(ranks, F.col("src") == F.col("node"))
            .join(out, "src")
            .select(
                "dst",
                "src",
                (F.col("r") / F.col("out_cnt").cast("double")).alias("contrib"),
            )
        )
        sums = c.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("src").alias("o"), F.col("contrib").alias("x")
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            ).alias("s")
        )
        ranks = nodes.join(sums, F.col("node") == F.col("dst"), "left").select(
            "node",
            (
                F.lit(PAGERANK_RESET)
                + F.lit(PAGERANK_DAMP) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.select(
        F.col("node").alias("vec_id"), F.col("r").alias("rank_score")
    )


def dedup_signal_agreement(
    docs: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Cross-signal dedup validation over the row-aligned corpus: TEXT
    near-dup pairs (MinHash-LSH, exact-Jaccard verified) vs EMBEDDING
    near-dup pairs (cosine-LSH verified) — the agreement table
    threshold calibration reads before trusting either filter alone
    (text dedup misses paraphrases; embedding dedup misses short
    verbatim overlap). Emits one row per signal class ('both',
    'text_only', 'emb_only') with the pair count and its fraction of
    the pair-set UNION (int/int).

    Scale shape: both pair generators are the already-bounded LSH
    bucket equi-joins; the comparison is one full-outer join on the
    (a, b) pair key + a 3-row aggregate."""
    from .dedup import lsh_candidate_pairs, verified_near_dups, with_minhash

    # cache-before-branch: the shingle + 16-minhash fold feeds band
    # generation AND both verification sides (the calibration pattern)
    withsig = materialize(with_minhash(docs))
    tp = (
        verified_near_dups(withsig, lsh_candidate_pairs(withsig))
        .select("a", "b")
        .withColumn("t", F.lit(1))
    )
    ep = lsh_near_dups(embeddings).select("a", "b").withColumn("e", F.lit(1))
    j = tp.join(ep, ["a", "b"], "full_outer")
    sig = (
        F.when(F.col("t").isNotNull() & F.col("e").isNotNull(), "both")
        .when(F.col("t").isNotNull(), "text_only")
        .otherwise("emb_only")
    )
    # ≤3-row class-count frame feeds BOTH the union total and the output
    # join — materialize so the two pair pipelines run once, not
    # once per consumer (the filter_funnel pattern)
    cnt = materialize(
        j.select(sig.alias("signal"))
        .groupBy("signal")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    tot = cnt.agg(F.sum("n_pairs").cast("long").alias("n_union"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "signal",
        "n_pairs",
        "n_union",
        (F.col("n_pairs").cast("double") / F.col("n_union").cast("double"))
        .alias("frac_of_union"),
    )


def triangle_count(
    embeddings: DataFrame, knn: DataFrame | None = None
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected kNN semantic graph — the cohesion signal that separates
    tight semantic clusters (template families, boilerplate pockets)
    from chain-like neighborhoods. Triangles are enumerated once each
    via the oriented a<b<c three-way equi-join (the standard
    relational triangle listing); coefficient = 2·T / (deg·(deg−1)),
    one int/int double division, NULL below degree 2.

    Scale shape: the undirected edge list (distinct least/greatest
    pairs, ≤ N·k rows) is materialized once and every join is an
    equi-join on a vertex; per-vertex join fan-out is bounded by the
    kNN degree (≤ bucket cap). No window, no global aggregate.
    ``knn=`` injects a materialized knn_join frame (the embed CLI);
    the edge list is still checkpointed — it is re-referenced five
    times inside this one plan."""
    e = knn if knn is not None else knn_join(embeddings)
    und = materialize(
        e.select(
            F.least("vec_id", "nbr_id").alias("a"),
            F.greatest("vec_id", "nbr_id").alias("b"),
        ).distinct()
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
    tri_n = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    coef = F.when(
        F.col("degree") >= 2,
        (2 * F.col("n_tri")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
    )
    return (
        deg.join(tri_n, "node", "left")
        .select(
            F.col("node").alias("vec_id"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
        )
        .select("vec_id", "degree", "n_tri", coef.alias("clustering_coef"))
    )


def embedding_near_dups(
    embeddings: DataFrame, threshold: float = 0.95, n_limit: int = 200
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs among the first n_limit
    vectors (bounded verification set; the LSH bucket path is the scale
    route to candidates)."""
    norms = embeddings.filter(F.col("vec_id") < n_limit).select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    a = norms.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("av"), F.col("nsq").alias("a_nsq")
    )
    b = norms.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("bv"), F.col("nsq").alias("b_nsq")
    )
    sim = _dot("av", "bv").cast("double") / (
        F.sqrt(F.col("a_nsq").cast("double")) * F.sqrt(F.col("b_nsq").cast("double"))
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ------------------------------------------------------------ k-means fit
KMEANS_ITERS = 2


def kmeans_fit(embeddings: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Bounded-iteration distributed Lloyd — the quantizer TRAINING step
    the IVF/PQ stand-ins model as 'offline': at 100 TB a training-data
    pipeline fits its coarse quantizer on its own corpus, and the fit is
    itself a natural DataFrame job. Returns the fitted centroids as a
    small table (centroid_id, cv: array<double>) — exactly the
    broadcast shape :func:`ivf_assign`/:func:`ivf_search` consume.

    Deterministic + cross-engine exact by construction:

    * init — the first ``IVF_N_CENTROIDS`` vectors (the same deterministic seed the
      stand-in used), elements cast to double;
    * assign — squared-L2 argmin via the order-fixed left fold
      (:func:`_sqdist`), ties to the smaller centroid_id: the existing
      ``ivf_assign`` shape (narrow scan × broadcast centroids);
    * update — per (centroid, dim) mean where the sum folds member
      values in vec_id order (array_sort → left fold, the pq_search
      pattern) and the division is one double op over identical
      operands: bit-identical to the DuckDB oracle. At production
      scale the ordered fold relaxes to a plain float sum (k-means is
      stochastic in data order anyway); the fold is the oracle-
      exactness mode, same trade as the DECIMAL sums elsewhere.
    * empty cluster — keeps its previous centroid (deterministic;
      mirrored in SQL via LEFT JOIN + coalesce).

    Exactly ``iters`` Lloyd iterations (fixed, so the oracle can state
    the same unrolled computation); convergence is not checked — the
    fit is a preprocessing artifact, not a fixpoint contract."""
    dcast = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    rows = embeddings.select(
        F.lit(0).alias("grp"), "vec_id", dcast.alias("v")
    )
    return _kmeans_core(rows, IVF_N_CENTROIDS, iters).drop("grp")


def _kmeans_core(rows: DataFrame, k: int, iters: int) -> DataFrame:
    """Grouped Lloyd core over (grp, vec_id, v: array<double>) rows —
    every group fits its own k centroids in the SAME jobs (one
    assignment join, one update aggregate per iteration, all keyed by
    grp). :func:`kmeans_fit` is the single-group case (IVF);
    :func:`pq_fit_codebook` fits all PQ subspaces at once (grp =
    sub_id). Determinism contract as documented on kmeans_fit."""
    cents = rows.filter(F.col("vec_id") < k).select(
        "grp", F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        pairs = rows.join(F.broadcast(cents), "grp").select(
            "grp", "vec_id", "centroid_id", _sqdist("v", "cv").alias("dist")
        )
        # argmin via map-side-combinable min_by on (dist, centroid_id)
        # — the previous (dist asc, centroid_id asc) window's first
        # row, without a per-point sort in EVERY Lloyd iteration
        assign = pairs.groupBy("grp", "vec_id").agg(
            F.min_by(
                F.col("centroid_id"),
                F.struct(F.col("dist"), F.col("centroid_id")),
            ).alias("centroid_id")
        )
        members = assign.join(rows, ["grp", "vec_id"]).select(
            "grp", "centroid_id", "vec_id", F.posexplode("v").alias("pos", "val")
        )
        ordered = F.transform(
            F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
            lambda s: s["val"],
        )
        means = members.groupBy("grp", "centroid_id", "pos").agg(
            (
                F.aggregate(ordered, F.lit(0.0), lambda acc, x: acc + x)
                / F.count("*").cast("double")
            ).alias("val")
        )
        new_cv = means.groupBy("grp", "centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"],
            ).alias("new_cv")
        )
        cents = (
            cents.join(new_cv, ["grp", "centroid_id"], "left")
            .select(
                "grp",
                "centroid_id",
                F.coalesce("new_cv", "cv").alias("cv"),
            )
        )
    return cents


def kmeans_centroid_rows(embeddings: DataFrame) -> DataFrame:
    """Fitted centroids flattened to oracle-comparable rows
    (centroid_id, pos, val)."""
    return kmeans_fit(embeddings).select(
        "centroid_id", F.posexplode("cv").alias("pos", "val")
    ).select("centroid_id", F.col("pos").cast("long").alias("pos"), "val")


# ----------------------------------------------------------- product quant
PQ_M = 8        # subspaces (EMB_DIM / PQ_SUB_DIM)
PQ_SUB_DIM = 8
PQ_K = 16       # codes per subspace
PQ_N_QUERIES = 8
PQ_TOPK = 10


def _subvecs(col) -> "F.Column":
    """Array of the vector's PQ_M contiguous subvectors."""
    return F.array(
        *[F.slice(col, m * PQ_SUB_DIM + 1, PQ_SUB_DIM) for m in range(PQ_M)]
    )


def _sqdist(a, b) -> "F.Column":
    """Squared L2 distance as an order-fixed left fold: float32 inputs
    subtract exactly in double, so the only roundings are the square
    and the running sum — identical in both engines."""
    diffs = F.zip_with(
        a, b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """(sub_id, code_id, code_vec): the m-th subvector of each of the
    first PQ_K vectors — the deterministic stand-in for the offline
    per-subspace k-means fit, exactly as ivf_assign models its
    centroids: at 10^12 rows the fit runs offline and its output is a
    tiny broadcast table (M·K rows)."""
    return embeddings.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code_id"),
        F.posexplode(_subvecs(F.col("embedding"))).alias("sub_id", "code_vec"),
    ).select("sub_id", "code_id", "code_vec")


def pq_fit_codebook(embeddings: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Per-subspace PQ codebook TRAINING: every subspace fits its own
    ``PQ_K`` codewords via the grouped Lloyd core (grp = sub_id) — all M
    subspaces train in the same distributed jobs. Init = the m-th
    subvectors of the first ``PQ_K`` vectors, i.e. exactly the
    :func:`pq_codebook` stand-in, so ``iters=0`` reproduces it and
    Lloyd descent guarantees the fitted codebook's quantization error
    is ≤ the stand-in's (asserted in tests). Returns (sub_id, code_id,
    code_vec) — the shape :func:`pq_encode`/:func:`pq_search` consume."""
    rows = embeddings.select(
        "vec_id",
        F.posexplode(_subvecs(F.col("embedding"))).alias("grp", "sv"),
    ).select(
        "grp",
        "vec_id",
        F.transform("sv", lambda x: x.cast("double")).alias("v"),
    )
    return _kmeans_core(rows, PQ_K, iters).select(
        F.col("grp").alias("sub_id"),
        F.col("centroid_id").alias("code_id"),
        F.col("cv").alias("code_vec"),
    )


def pq_fit_rows(embeddings: DataFrame) -> DataFrame:
    """Fitted PQ codebook flattened to oracle-comparable rows
    (sub_id, code_id, pos, val)."""
    return pq_fit_codebook(embeddings).select(
        "sub_id",
        "code_id",
        F.posexplode("code_vec").alias("pos", "val"),
    ).select(
        "sub_id", "code_id", F.col("pos").cast("long").alias("pos"), "val"
    )


def pq_encode(embeddings: DataFrame, codebook: DataFrame | None = None) -> DataFrame:
    """Product-quantization encoding — the FAISS-style 64×-compression
    step: per vector and subspace, the id of the nearest codebook entry
    (squared-L2 argmin, ties → smallest code_id). Emits one row per
    (vec_id, sub_id): the relational form of the M-byte PQ code.

    Shape: subvector rows × broadcast codebook (M·K entries) → argmin
    window keyed by (vec_id, sub_id) — narrow scan, tiny broadcast, the
    window partitions by the row's own key so no hot reducer exists."""
    cb = pq_codebook(embeddings) if codebook is None else codebook
    rows = embeddings.select(
        "vec_id", F.posexplode(_subvecs(F.col("embedding"))).alias("sub_id", "sv")
    )
    pairs = rows.join(F.broadcast(cb), "sub_id").select(
        "vec_id", "sub_id", "code_id", _sqdist("sv", "code_vec").alias("dist")
    )
    # argmin via map-side-combinable struct-min on (dist, code_id) —
    # identical winner/tie-break to the previous per-subvector window
    m = pairs.groupBy("vec_id", "sub_id").agg(
        F.min(F.struct(F.col("dist"), F.col("code_id"))).alias("m")
    )
    return m.select(
        "vec_id",
        "sub_id",
        F.col("m.code_id").alias("code_id"),
        F.col("m.dist").alias("dist"),
    )


def pq_search(embeddings: DataFrame, codebook: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: per query, a lookup table of
    partial squared distances to every codebook entry (M·K doubles,
    broadcast); a candidate's approximate distance is the sum of its M
    code lookups. The corpus side touches only the ENCODED table — the
    point of PQ: at 10^12 rows the raw vectors never stream through the
    search, only M small ints per vector + one equi-join on
    (sub_id, code_id).

    The per-candidate sum folds the M partials in sub_id order
    (array_sort → left fold), keeping the result bit-identical across
    engines and partitionings. Emits (q_id, rank, c_id, adc_dist)."""
    cb = pq_codebook(embeddings) if codebook is None else codebook
    enc = pq_encode(embeddings, codebook=cb).select("vec_id", "sub_id", "code_id")
    q = embeddings.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.posexplode(_subvecs(F.col("embedding"))).alias("sub_id", "qsv"),
    )
    lut = q.join(F.broadcast(cb), "sub_id").select(
        "q_id", "sub_id", "code_id", _sqdist("qsv", "code_vec").alias("pd")
    )
    parts = enc.join(
        F.broadcast(lut), ["sub_id", "code_id"]
    ).filter(F.col("vec_id") != F.col("q_id"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("sub_id", "pd"))), lambda s: s["pd"]
    )
    adc = F.aggregate(ordered, F.lit(0.0), lambda acc, x: acc + x)
    dists = parts.groupBy("q_id", F.col("vec_id").alias("c_id")).agg(
        adc.alias("adc_dist"), F.count("*").alias("_m")
    )
    # a candidate missing any subspace row would silently rank high;
    # the encode emits all M rows, assert via filter (no-op at runtime)
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        dists.filter(F.col("_m") == PQ_M)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "c_id", "adc_dist")
    )


def brute_l2_topk(embeddings: DataFrame) -> DataFrame:
    """Exact squared-L2 top-k — the ground truth for the PQ/ADC path
    (which ranks by approximate squared L2, not cosine). Bounded to the
    eval probe set like ann_brute_topk; distances use the order-fixed
    |v|²−2⟨v,c⟩+|c|² construction shared with ivf_assign."""
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    q = norms.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("nsq").alias("q_nsq"),
    )
    c = norms.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.col("nsq").alias("c_nsq"),
    )
    dist = (
        F.col("q_nsq").cast("double")
        - 2.0 * _dot("qv", "cv").cast("double")
        + F.col("c_nsq").cast("double")
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", dist.alias("l2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("l2"), F.asc("c_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "c_id")
    )


def pq_recall(embeddings: DataFrame) -> DataFrame:
    """Recall@k of the PQ/ADC search against the exact-L2 ground truth
    — quantization loss measured the way a deployment reports it. Same
    bounded-eval shape as :func:`ann_recall`."""
    truth = brute_l2_topk(embeddings).select("q_id", "c_id")
    approx = pq_search(embeddings).select("q_id", "c_id")
    return _recall_against(truth, approx, PQ_TOPK)


# ------------------------------------------------------- semantic dedup
SEMDEDUP_THRESHOLD = 0.35  # cosine edge threshold (shared with oracle)
SEMDEDUP_MAX_CELL = 4096  # hot-cell pair-gen guard (shared with oracle)


def semdedup(embeddings: DataFrame) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): the
    corpus is coarse-clustered by the k-means quantizer, candidate
    pairs form ONLY within a cell (a centroid_id equi-join — never
    all-pairs, and data-adaptive where the LSH route is random), edges
    are exact cosine >= SEMDEDUP_THRESHOLD, components come from the shared CC
    operator, and within each dup cluster the KEPT member is the one
    FARTHEST from its centroid (the paper's low-centroid-similarity
    keep policy, which preserves the cluster's most atypical example;
    tie -> smallest vec_id). Emits one row per vector that appears in
    any dup cluster: (vec_id, centroid_id, cluster_id, dist, keep).

    Scale shape: at 10^12 vectors the quantizer is trained with k large
    enough that cells stay bounded (k ~ n/10k); ``SEMDEDUP_MAX_CELL`` drops
    oversized cells from PAIR GEN only, so a degenerate centroid can't
    detonate the in-cell self-join. The assignment frame is
    materialized because four branches read it (cell sizes, both pair
    sides, the keep-policy join-back) and the CC loop sits above it
    (A/B 5.0 → 4.0 s)."""
    from .dedup import connected_components

    assign = materialize(ivf_assign(embeddings))
    ok = (
        assign.groupBy("centroid_id")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= SEMDEDUP_MAX_CELL)
        .select("centroid_id")
    )
    asg = assign.join(ok, "centroid_id").select("vec_id", "centroid_id")
    norms = embeddings.select(
        "vec_id", "embedding", _dot("embedding", "embedding").alias("nsq")
    )
    x = asg.join(norms, "vec_id").select(
        F.col("vec_id").alias("a"), "centroid_id",
        F.col("embedding").alias("av"), F.col("nsq").alias("a_nsq"),
    )
    y = asg.join(norms, "vec_id").select(
        F.col("vec_id").alias("b"), "centroid_id",
        F.col("embedding").alias("bv"), F.col("nsq").alias("b_nsq"),
    )
    sim = _dot("av", "bv").cast("double") / (
        F.sqrt(F.col("a_nsq").cast("double"))
        * F.sqrt(F.col("b_nsq").cast("double"))
    )
    pairs = (
        x.join(y, "centroid_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= SEMDEDUP_THRESHOLD)
    )
    memb = (
        connected_components(pairs.select("a", "b"))
        .select(F.col("doc_id").alias("vec_id"), "cluster_id")
        .join(assign, "vec_id")
    )
    # keep = arg-max dist per cluster (tie -> min vec_id): ONE
    # map-side-combinable max_by on the (dist, −vec_id) ordering
    # struct, never a window (previously max + join-back + filter +
    # min — two aggregations and an extra join for the same argmax)
    keeper = memb.groupBy("cluster_id").agg(
        F.max_by(
            F.col("vec_id"),
            F.struct(F.col("dist"), (-F.col("vec_id")).alias("nv")),
        ).alias("_keep_id")
    )
    return memb.join(keeper, "cluster_id").select(
        "vec_id", "centroid_id", "cluster_id", "dist",
        (F.col("vec_id") == F.col("_keep_id")).alias("keep"),
    )


def knn_label_noise(
    embeddings: DataFrame, knn: DataFrame | None = None
) -> DataFrame:
    """Confident-learning-style label-noise detection (Northcutt et
    al., public): each labeled vector's k approximate nearest
    neighbors vote; a row whose neighbor-majority label disagrees with
    its own label is flagged ``suspect`` — the kNN screen curation
    pipelines run before training on a labeled corpus. Ties in the
    majority break to the smallest label id (arg-min join-back, the
    match_best pattern — no window beyond knn_join's own self-keyed
    top-k). Emits one row per vector that has any in-bucket neighbor:
    (vec_id, label, n_nbrs, n_same, nbr_majority, suspect).

    Scale shape: rides :func:`knn_join`'s LSH bucket equi-join
    (hot-bucket guarded, never all-pairs); everything after is
    map-side-combinable groupBys on (vec_id, label) + equi-joins
    against the narrow (vec_id, label) projection."""
    nn = (knn if knn is not None else knn_join(embeddings)).select(
        "vec_id", "nbr_id"
    )
    own = embeddings.select("vec_id", "label")
    nbr = embeddings.select(
        F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label")
    )
    votes = (
        nn.join(nbr, "nbr_id")
        .groupBy("vec_id", "nbr_label")
        .agg(F.count("*").alias("n"))
    )
    tot = votes.groupBy("vec_id").agg(
        F.sum("n").alias("n_nbrs"), F.max("n").alias("_mx")
    )
    maj = (
        votes.join(tot, "vec_id")
        .filter(F.col("n") == F.col("_mx"))
        .groupBy("vec_id", "n_nbrs")
        .agg(F.min("nbr_label").alias("nbr_majority"))
    )
    same = (
        votes.join(own, "vec_id")
        .filter(F.col("nbr_label") == F.col("label"))
        .select("vec_id", F.col("n").alias("n_same"))
    )
    return (
        own.join(maj, "vec_id")
        .join(same, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.col("n_nbrs").cast("long").alias("n_nbrs"),
            F.coalesce(F.col("n_same"), F.lit(0).cast("long"))
            .cast("long")
            .alias("n_same"),
            "nbr_majority",
            (F.col("nbr_majority") != F.col("label")).alias("suspect"),
        )
    )
