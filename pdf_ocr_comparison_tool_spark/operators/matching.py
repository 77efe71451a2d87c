"""Staged similarity join — the matching core (SURVEY §2.3 J1-J7).

Rebuilds the reference's find_matches (content_matcher.py:271-318) as a
composed DataFrame DAG instead of Python dict indexes:

  J1  exact-hash equi-join short-circuit (sim := 1.0, skips fuzzy)
  J2  blocking join on exploded date strings
  J3  blocking join on exploded normalized amount strings
  J4  bounded nested-loop fallback (first 100 reference pages, by
      (doc_id, page_num) — the reference's "first 100" is its index
      order; we fix a deterministic order) for probes with no candidate
  J5  fuzzy theta-join: levenshtein similarity ≥ partial threshold, the
      distance computed by the bit-parallel JVM kernel (kernels.py)
  J6  top-k per probe (k=5), deterministic tiebreak (sim desc, doc, page)
  J7  best-match left-outer: every voucher page emits exactly one row,
      status banding per T13 (content_matcher.py:345-351), no match →
      未找到

Scale notes (100 TB thinking):
* the reference index (build side) is broadcast when small; at scale the
  same plan degrades gracefully to a shuffled hash join and AQE handles
  skewed blocking keys (a hot date like an epoch default would otherwise
  explode one reducer);
* the fuzzy compare runs ONLY on blocked candidate pairs + the bounded
  fallback — never an unblocked cross join (reference O2/O3 preserved);
* levenshtein inputs are truncated to 1000 chars (reference O4) which
  bounds per-pair cost: at most 16 64-bit words per text code point in
  the bit-parallel kernel (kernels.py), which runs in the task thread.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config as C
from .. import kernels
from .features import normalize_amount

_PROBE = ["doc_id", "page_num"]


def _sim_expr(spark, t1, t2) -> "F.Column":
    """Levenshtein similarity with the reference's truncation + empty
    guards (content_matcher.py:120-161): both empty → 1.0, one empty →
    0.0, else 1 − dist/max_len over 1000-char prefixes.

    The distance is the bit-parallel kernel (:func:`kernels.levenshtein`,
    registered on ``spark``, the session whose plan reads the column):
    exactly the built-in ``levenshtein``, at one 64-bit word per 64 code
    points of the shorter text instead of one DP cell per pair of code
    points."""
    a = F.substring(t1, 1, C.LEVENSHTEIN_MAX_CHARS)
    b = F.substring(t2, 1, C.LEVENSHTEIN_MAX_CHARS)
    return (
        F.when((F.length(a) == 0) & (F.length(b) == 0), F.lit(1.0))
        .when((F.length(a) == 0) | (F.length(b) == 0), F.lit(0.0))
        .otherwise(
            F.lit(1.0)
            - kernels.levenshtein(spark, a, b).cast("double")
            / F.greatest(F.length(a), F.length(b)).cast("double")
        )
    )


REF_PER_KEY_CAP = 50


def jaccard_sim_expr(t1, t2) -> "F.Column":
    """T10 token-set jaccard, natively (tokens = lowercase alnum runs of
    the CJK-folded text; deterministic both engines), scored by the one
    jaccard formula, :func:`functions.similarity.jaccard_native`."""
    from .. import sqlgen as G
    from ..functions.similarity import jaccard_native

    def toks(t):
        folded = F.lower(F.translate(t, G.CJK_FOLD_SRC, G.CJK_FOLD_DST))
        return F.array_distinct(
            F.filter(F.split(folded, r"[^a-z0-9@#$%&*]+"), lambda x: x != "")
        )

    return jaccard_native(toks(t1), toks(t2))


def cosine_sim_expr(t1, t2) -> "F.Column":
    """T9 TF-cosine natively — the reference's DEFAULT match algorithm
    (config.yaml:154, content_matcher.py:54-93): term-frequency vectors
    over tokens, 0.0 when either norm is zero (including both-empty —
    unlike levenshtein's 1.0).

    Tokens are lowercase alnum runs of the CJK-folded text with
    duplicates KEPT (term frequency); the reference tokenizes with
    jieba, whose dictionary segmentation is environment-dependent — the
    deterministic tokenizer is the documented stand-in (SURVEY §7.1/M3).

    Cross-engine exactness: dot product and squared norms are INTEGER
    sums (order-free); the only float ops are two correctly-rounded
    sqrts and one division on identical operands — bit-identical in any
    engine, under any partitioning.
    """
    from .. import sqlgen as G

    def toks(t):
        folded = F.lower(F.translate(t, G.CJK_FOLD_SRC, G.CJK_FOLD_DST))
        return F.filter(F.split(folded, r"[^a-z0-9@#$%&*]+"), lambda x: x != "")

    a, b = toks(t1), toks(t2)
    u = F.array_union(a, b)

    def cnt(arr, w):
        return F.size(F.filter(arr, lambda x: x == w)).cast("long")

    def isum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    dot = isum(F.transform(u, lambda w: cnt(a, w) * cnt(b, w)))
    n1sq = isum(F.transform(u, lambda w: cnt(a, w) * cnt(a, w)))
    n2sq = isum(F.transform(u, lambda w: cnt(b, w) * cnt(b, w)))
    return F.when((n1sq == 0) | (n2sq == 0), F.lit(0.0)).otherwise(
        dot.cast("double")
        / (F.sqrt(n1sq.cast("double")) * F.sqrt(n2sq.cast("double")))
    )


def cosine_token_rows(
    df: DataFrame, keys: list[str], cnt_alias: str = "cnt"
) -> DataFrame:
    """(keys…, tok, cnt) term-frequency ROWS of the CJK-folded lowercase
    text — the per-page TF "vector" in relational form, built entirely
    inside whole-stage codegen (explode → filter → partial-agg count).

    This replaced a per-page token→count MAP column built with an
    interpreted HOF fold (sort + run-length via F.aggregate): the map
    was only ever exploded back into rows by the sparse dot, and the
    fold is CodegenFallback — the row build measured ~2× faster end to
    end at sf0.1. All tokens of a page sit in one input row, so the
    map-side partial aggregation collapses each (page, tok) group
    before the exchange — the shuffle moves compact counts, never raw
    tokens, and that holds at any corpus scale."""
    from .. import sqlgen as G

    folded = F.lower(F.translate(F.col("text"), G.CJK_FOLD_SRC, G.CJK_FOLD_DST))
    return (
        df.select(
            *keys, F.explode(F.split(folded, r"[^a-z0-9@#$%&*]+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy(*keys, "tok")
        .agg(F.count("*").alias(cnt_alias))
    )


def cosine_scorer(vt: DataFrame, rt: DataFrame):
    """pair_scorer over precomputed TF row tables: ``vt`` (doc_id,
    page_num, tok, cnt_v), ``rt`` (t_doc, t_page, tok, cnt_r) — build
    them once with :func:`cosine_token_rows` and cache (each is read
    twice: norms + dot).

    Scoring is the RELATIONAL sparse dot product: equi-join voucher and
    reference counts on (target page, token), aggregate Σ cnt_v·cnt_r
    per pair — every operator whole-stage-codegen'd, no interpreted
    lambda in the per-pair path (a per-pair HOF expression measured
    117 s at sf0.1; this shape runs in seconds and is the sparse-vector
    dot a 1000-executor cluster wants: token joins carry the page key,
    so a hot token cannot blow up beyond tokens-per-page × pairs).

    Values are bit-identical to :func:`cosine_sim_expr`: the dot and
    squared norms are the same integers (order-free sums), the final
    sqrt/divide the same double ops.

    Contract note: pairs sharing NO token (and pairs with a zero-norm
    side) are OMITTED from the output instead of scored 0.0 — their
    cosine is exactly 0, so any STRICTLY POSITIVE ``partial_threshold``
    filters them identically. In exchange the scorer never re-joins the
    pair set against its own aggregate (previously a 4-key sort-merge
    join of two pair-sized tables — the single most expensive exchange
    of the cosine match, ~3.3 s of a 16 s query at sf0.1); the norm
    dims are small per-page aggregates and broadcast. A dot row implies
    both pages have ≥1 token, so the norm joins are inner and the
    zero-norm guard is vacuous on surviving rows."""
    vn = vt.groupBy(*_PROBE).agg(
        F.sum(F.col("cnt_v") * F.col("cnt_v")).alias("v_nsq")
    )
    rn = rt.groupBy("t_doc", "t_page").agg(
        F.sum(F.col("cnt_r") * F.col("cnt_r")).alias("r_nsq")
    )

    def scorer(pairs: DataFrame) -> DataFrame:
        dots = (
            pairs.join(vt, _PROBE)
            .join(rt, ["t_doc", "t_page", "tok"])
            .groupBy(*_PROBE, "t_doc", "t_page")
            .agg(F.sum(F.col("cnt_v") * F.col("cnt_r")).alias("dot"))
        )
        sim = F.col("dot").cast("double") / (
            F.sqrt(F.col("v_nsq").cast("double"))
            * F.sqrt(F.col("r_nsq").cast("double"))
        )
        return (
            dots.join(vn, _PROBE)
            .join(rn, ["t_doc", "t_page"])
            .select(*_PROBE, "t_doc", "t_page", sim.alias("sim"))
        )

    return scorer


def match_pages(
    vouchers: DataFrame,
    refs: DataFrame,
    partial_threshold: float = C.PARTIAL_THRESHOLD,
    fallback_cap: int = C.FALLBACK_CAP,
    ref_per_key_cap: int = REF_PER_KEY_CAP,
    sim_fn=None,
    pair_scorer=None,
) -> DataFrame:
    """vouchers/refs: (doc_id, page_num, text, text_hash, dates, amounts).

    Returns ranked candidate matches: probe keys + t_doc, t_page, sim,
    rn (1..TOP_K), the top-k window's rows. Best-match consumers take
    rn = 1 through :func:`best_matches`.

    Scoring contract: either ``pair_scorer(pairs)`` — a relational
    scorer mapping the (probe, t_doc, t_page) pair set to (probe, t_doc,
    t_page, sim) rows (the cosine path) — or ``sim_fn`` over the (text,
    t_text) column pair (default: levenshtein with its exact length
    prefilter).

    Every call caps each blocking key's reference bucket at its
    ``ref_per_key_cap`` (:data:`REF_PER_KEY_CAP`) smallest (t_doc,
    t_page) pages, so a web-scale hot key cannot blow up the candidate
    set; a bucket beyond the cap may exclude the true best match
    (COVERAGE.md deviation #1). The oracles apply the same cap.
    """
    v = vouchers.select(
        "doc_id", "page_num", "text", "text_hash", "dates", "amounts"
    )
    r = refs.select(
        F.col("doc_id").alias("t_doc"),
        F.col("page_num").alias("t_page"),
        F.col("text").alias("t_text"),
        F.col("text_hash").alias("t_hash"),
        F.col("dates").alias("t_dates"),
        F.col("amounts").alias("t_amounts"),
    )

    # J1 — exact hash short-circuit. No broadcast hint: AQE broadcasts
    # the reference side at runtime when it is small and falls back to
    # a shuffled hash join when it isn't (a hard F.broadcast would force
    # a driver-side build and OOM at 100× corpus scale).
    exact = (
        v.join(r, F.col("text_hash") == F.col("t_hash"))
        .select(*_PROBE, "t_doc", "t_page", F.lit(1.0).alias("sim"))
    )
    exact_probes = exact.select(*_PROBE)  # left_anti tolerates dupes
    # rest/cand feed multiple downstream branches (blocking, anti-join,
    # scoring); cache them so the branches don't recompute the upstream
    # DAG — the dataflow analogue of the reference's materialized
    # candidate lists (content_matcher.py:291-306). These two lazy
    # caches are the package's one exception to materialize.py: they
    # sit on the timed match path, so swapping them needs its own
    # interleaved benchmark. A long-lived session frees them with
    # spark.catalog.clearCache() after its last action on the result
    # (bench and the test suite do). Dropping them fails
    # test_exact_join_broadcasts_via_aqe_without_hint and
    # test_warm_match_query_compiles_nothing.
    rest = v.join(exact_probes, _PROBE, "left_anti").cache()

    # J2/J3 — blocking joins on exploded date / normalized-amount keys.
    # Hot-key bound: at web scale a single popular date (epoch defaults,
    # form boilerplate) would blow the candidate set up to |probes|×|its
    # bucket|; cap each blocking key's reference bucket at
    # ref_per_key_cap in deterministic (t_doc, t_page) order — the same
    # bounded-scan idea as the reference's 100-page fallback cap
    # (content_matcher.py:306), applied per key. Every call applies it:
    # unlike the reference, which scores ALL index pages sharing a key
    # (content_matcher.py:291-304), a hot bucket beyond the cap may
    # exclude the true best match (COVERAGE.md deviation #1).
    #
    # Shape: two-phase salted top-k, NOT a row_number window — a window
    # sorts the ENTIRE hot bucket on one reducer before the cap
    # applies. Phase 1 takes the cap-smallest within (bk, salt) cells
    # (16-way spread of the hot key), phase 2 merges the ≤16·cap
    # survivors per key. Any global top-cap row is top-cap within its
    # cell, so the result is identical and deterministic.
    _N_SALT = 16

    def _cap(df: DataFrame) -> DataFrame:
        pair = F.struct(F.col("t_doc"), F.col("t_page"))
        salt = F.pmod(F.hash("t_doc", "t_page"), F.lit(_N_SALT))
        cell = (
            df.groupBy("bk", salt.alias("salt"))
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(pair)), 1, ref_per_key_cap
                ).alias("ps")
            )
        )
        merged = cell.groupBy("bk").agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("ps"))), 1, ref_per_key_cap
            ).alias("ps")
        )
        return merged.select(
            "bk", F.explode("ps").alias("p")
        ).select("bk", F.col("p.t_doc").alias("t_doc"), F.col("p.t_page").alias("t_page"))

    # ONE blocking leg instead of two: dates and normalized amounts are
    # tagged into disjoint key spaces ("d:" / "a:") and exploded in one
    # pass per side, so the cap aggregation, the candidate equi-join and
    # the dedup each run ONCE instead of twice + union (measured: the
    # two-leg shape paid 2 collect_list cap chains + 2 joins + a union
    # before the distinct — half the blocking exchanges for the same
    # pair set). The tags make cross-type equality (a voucher date
    # string equal to a ref amount string) impossible, exactly like the
    # separate joins; per-key cap groups are unchanged because the tags
    # partition the key space into the same per-type groups. Each side
    # is coalesced to an empty array: concat is NULL if either input is,
    # and a NULL dates array must not drop the page's amount keys (the
    # oracle explodes the two arrays separately).
    def _bks(dates_col: str, amounts_col: str):
        empty = F.array().cast("array<string>")
        return F.concat(
            F.coalesce(
                F.transform(dates_col, lambda d: F.concat(F.lit("d:"), d)),
                empty,
            ),
            F.coalesce(
                F.transform(
                    amounts_col,
                    lambda a: F.concat(F.lit("a:"), normalize_amount(a)),
                ),
                empty,
            ),
        )

    v_keys = rest.select(
        *_PROBE, F.explode(_bks("dates", "amounts")).alias("bk")
    )
    r_keys = _cap(
        r.select(
            "t_doc", "t_page",
            F.explode(_bks("t_dates", "t_amounts")).alias("bk"),
        )
    )
    cand = (
        v_keys.join(r_keys, "bk")
        .select(*_PROBE, "t_doc", "t_page")
        .distinct()
        .cache()
    )

    # J4 — bounded fallback for probes with zero candidates. The ref
    # side of the fallback carries its TEXT in the 100-row broadcast,
    # so the (|no_cand| × cap) pair fan-out never routes through the
    # reference-text join below (guide §8: attach payload to the
    # bounded side once, move the fan-out rows through narrow ops only)
    no_cand = rest.select(*_PROBE).join(cand.select(*_PROBE), _PROBE, "left_anti")
    fb_refs = (
        r.select("t_doc", "t_page", "t_text")
        .orderBy("t_doc", "t_page")
        .limit(fallback_cap)
    )
    fallback = no_cand.crossJoin(F.broadcast(fb_refs.select("t_doc", "t_page")))

    # J5 — fuzzy similarity on candidate ∪ fallback pairs. Exact length
    # prefilter: lev(a,b) ≥ |len(a)−len(b)|, so sim can only reach the
    # threshold when the length gap is within (1−θ)·maxlen — drop the
    # rest before the distance kernel. Semantically a no-op (those pairs fail
    # the θ filter anyway), so the oracle needs no change.
    # no distinct needed: cand is already distinct and fallback probes
    # are anti-joined out of cand, so the two legs are disjoint (the
    # oracle's UNION dedups across the same disjoint sets — no-op)
    if pair_scorer is not None:
        # relational scorer: already aggregated per pair, its groupBy
        # exchange plays the anti-pushdown barrier role. Scorers may
        # OMIT identically-zero pairs (cosine_scorer does), so the
        # threshold must be strictly positive for the filter to be
        # equivalent to scoring them.
        if partial_threshold <= 0:
            raise ValueError(
                "pair_scorer path requires partial_threshold > 0 "
                "(zero-similarity pairs are omitted, not scored)"
            )
        scored = pair_scorer(cand.unionByName(fallback)).filter(
            F.col("sim") >= partial_threshold
        )
        return _rank_topk(exact, scored)
    # candidate leg joins both texts; the fallback leg picks its ref
    # text off the bounded broadcast instead of re-joining r
    joined = cand.join(rest.select(*_PROBE, "text"), _PROBE).join(
        r.select("t_doc", "t_page", "t_text"), ["t_doc", "t_page"]
    ).unionByName(
        no_cand.join(rest.select(*_PROBE, "text"), _PROBE).crossJoin(
            F.broadcast(fb_refs)
        ).select(*_PROBE, "t_doc", "t_page", "text", "t_text")
    )
    if sim_fn is None:
        # exact length prefilter — the bound only holds for edit
        # distance, computed on the truncated inputs the DP sees
        la = F.least(F.length("text"), F.lit(C.LEVENSHTEIN_MAX_CHARS))
        lb = F.least(F.length("t_text"), F.lit(C.LEVENSHTEIN_MAX_CHARS))
        len_ok = (
            (la - lb).cast("double")
            <= (1.0 - partial_threshold) * F.greatest(la, lb)
        ) & (
            (lb - la).cast("double")
            <= (1.0 - partial_threshold) * F.greatest(la, lb)
        )
        joined = joined.filter(len_ok)
        sim = _sim_expr(joined.sparkSession, F.col("text"), F.col("t_text"))
    else:
        sim = sim_fn(F.col("text"), F.col("t_text"))
    # The repartition between the sim projection and the θ filter is a
    # deliberate barrier: without it Catalyst collapses filter+project
    # and pushes the similarity CASE into the hash-join condition,
    # where it evaluates interpreted per matched row (measured ~5×
    # slower). The exchange is on the probe key, which is exactly the
    # distribution the top-k window below needs — so it replaces that
    # window's exchange instead of adding one.
    scored = (
        joined.select(*_PROBE, "t_doc", "t_page", sim.alias("sim"))
        .repartition(*_PROBE)
        .filter(F.col("sim") >= partial_threshold)
    )
    return _rank_topk(exact, scored)


def _rank_topk(exact: DataFrame, scored: DataFrame) -> DataFrame:
    """J6 — union exact hits with fuzzy scores, top-``TOP_K`` per probe."""
    all_matches = exact.unionByName(scored)
    w = Window.partitionBy(*_PROBE).orderBy(
        F.desc("sim"), F.asc("t_doc"), F.asc("t_page")
    )
    return (
        all_matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= C.TOP_K)
    )


def status_band(sim_col) -> "F.Column":
    """T13 status banding (content_matcher.py:345-351)."""
    return (
        F.when(sim_col >= C.EXACT_THRESHOLD, F.lit(C.STATUS_EXACT))
        .when(sim_col >= C.SIMILARITY_THRESHOLD, F.lit(C.STATUS_PARTIAL))
        .otherwise(F.lit(C.STATUS_LOW))
    )


def with_matched_keywords(
    best: DataFrame, vouchers: DataFrame, refs: DataFrame
) -> DataFrame:
    """Emit the reference's ``matched_keywords`` output column
    (content_matcher.py:353-356: intersection of the two pages' keyword
    sets; empty for 未找到): joins both pages' ``kw`` arrays back onto
    the :func:`best_matches` rows and intersects. Adds
    ``matched_kw_arr`` (sorted array, consumed by the merge union) and
    ``matched_kw`` ('|'-joined string, the report column)."""
    vk = vouchers.select(*_PROBE, F.col("kw").alias("v_kw"))
    rk = refs.select(
        F.col("doc_id").alias("t_doc"),
        F.col("page_num").alias("t_page"),
        F.col("kw").alias("r_kw"),
    )
    arr = F.when(
        F.col("t_doc").isNull(), F.array().cast("array<string>")
    ).otherwise(F.array_sort(F.array_intersect("v_kw", "r_kw")))
    return (
        best.join(vk, _PROBE, "left")
        .join(rk, ["t_doc", "t_page"], "left")
        .withColumn("matched_kw_arr", arr)
        .withColumn("matched_kw", F.array_join("matched_kw_arr", "|"))
        .drop("v_kw", "r_kw")
    )


def best_matches(vouchers: DataFrame, ranked: DataFrame) -> DataFrame:
    """J7 — exactly one output row per voucher page: the rn = 1 row of
    :func:`match_pages`' top-k window, left-joined onto the voucher
    pages; unmatched pages get (未找到, sim 0.0) per
    content_matcher.py:320-351."""
    best = ranked.filter(F.col("rn") == 1).select(
        *_PROBE, "t_doc", "t_page", "sim"
    )
    return (
        vouchers.select(*_PROBE)
        .join(best, _PROBE, "left")
        .select(
            *_PROBE,
            "t_doc",
            "t_page",
            F.coalesce("sim", F.lit(0.0)).alias("sim"),
            F.when(F.col("t_doc").isNull(), F.lit(C.STATUS_NOT_FOUND))
            .otherwise(status_band(F.col("sim")))
            .alias("status"),
        )
    )
