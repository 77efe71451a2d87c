"""Connected-components cluster formation over near-dup pair edges:
transitivity (chains), cycles, disjoint components, and the
keep-one-per-cluster policy."""

from __future__ import annotations

from pdf_ocr_comparison_tool_spark.operators import dedup


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, ["a", "b"])
    rows = dedup.connected_components(pairs).collect()
    return {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in rows}


def test_chain_is_transitive(spark):
    # a-b, b-c, c-d: one component even though (a,d) was never a pair
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {
        "a": ("a", True),
        "b": ("a", False),
        "c": ("a", False),
        "d": ("a", False),
    }


def test_cycle_converges(spark):
    got = _cc(spark, [("x", "y"), ("y", "z"), ("x", "z")])
    assert {k: v[0] for k, v in got.items()} == {"x": "x", "y": "x", "z": "x"}


def test_disjoint_components(spark):
    got = _cc(spark, [("a", "b"), ("m", "n"), ("n", "o")])
    assert got["a"] == ("a", True) and got["b"] == ("a", False)
    assert got["m"] == ("m", True)
    assert got["n"] == ("m", False) and got["o"] == ("m", False)


def test_long_chain_beyond_one_round(spark):
    # a 12-node path needs several propagation rounds to converge
    nodes = [f"n{i:02d}" for i in range(12)]
    got = _cc(spark, list(zip(nodes, nodes[1:])))
    assert all(cl == "n00" for cl, _ in got.values())
    assert sum(1 for _, keep in got.values() if keep) == 1


def test_exactly_one_keep_per_cluster(spark):
    got = _cc(spark, [("d3", "d1"), ("d2", "d3"), ("q9", "q8")])
    clusters = {}
    for doc, (cl, keep) in got.items():
        clusters.setdefault(cl, []).append((doc, keep))
    for cl, members in clusters.items():
        keeps = [d for d, k in members if k]
        assert keeps == [cl] == [min(d for d, _ in members)]


def test_simhash_banded_join_matches_guarded_bruteforce(spark):
    """The banded equi-join must equal a brute-force O(n²) hamming scan
    under the documented guard semantics: a pair within distance 3 is
    emitted iff at least one band on which the two fingerprints agree
    verbatim is NOT a hot bucket (> MAX_BUCKET members, boilerplate).
    Also asserts the pigeonhole completeness claim on the guard-free
    subset: every ≤3 pair agrees on ≥1 band."""
    from collections import Counter

    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import dedup
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    nb = dedup.SIMHASH_BITS // dedup.SIMHASH_BAND_BITS

    def band_vals(fp):
        return [
            (b, (fp >> (dedup.SIMHASH_BAND_BITS * b)) % (1 << dedup.SIMHASH_BAND_BITS))
            for b in range(nb)
        ]

    buckets = Counter(bv for fp in fps.values() for bv in band_vals(fp))
    small = {bv for bv, n in buckets.items() if n <= dedup.MAX_BUCKET}
    ids = sorted(fps)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(fps[a] ^ fps[b]).count("1")
            if ham > dedup.SIMHASH_HAM_MAX:
                continue
            shared = [
                bv for bv in band_vals(fps[a]) if bv in set(band_vals(fps[b]))
            ]
            assert shared, "pigeonhole violated: a ≤3 pair sharing no band"
            if any(bv in small for bv in shared):
                expected[(a, b)] = ham
    banded = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_candidate_pairs(dedup.simhash(docs)).collect()
    }
    assert banded == expected
    assert expected, "fixture produced no guarded pairs at all"


def test_decontaminate_flags_eval_overlap(spark):
    """A doc containing a full eval item is contaminated (frac 1.0); a
    doc sharing one 8-gram window scores 1/n_eval_grams and stays below
    the threshold; unrelated docs get zero hits. Eval membership is the
    deterministic md5 bucket of the id."""
    import hashlib

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % \
            dedup.DECON_EVAL_BUCKETS

    eval_id = next(i for i in range(1000) if bucket(i) == 0)
    others = [i for i in range(1000) if bucket(i) != 0][:3]
    a, b, c = others
    etoks = [f"ev{j}" for j in range(12)]  # 5 distinct 8-grams
    rows = [
        (eval_id, " ".join(etoks)),
        (a, " ".join(etoks[:8]) + " tail1 tail2"),   # 1 of 5 grams
        (b, "prefix0 prefix1 " + " ".join(etoks)),   # all 5 grams
        (c, " ".join(f"zz{j}" for j in range(15))),  # none
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.decontaminate(docs).collect()}
    assert len(out) == 4
    assert out[a]["n_eval_docs_hit"] == 1
    assert abs(out[a]["max_overlap_frac"] - 1 / 5) < 1e-12
    assert not out[a]["contaminated"]
    assert out[b]["n_eval_docs_hit"] == 1
    assert out[b]["max_overlap_frac"] == 1.0
    assert out[b]["contaminated"]
    assert out[c]["n_eval_docs_hit"] == 0 and not out[c]["contaminated"]
    # the eval doc itself: self-pair excluded, and b is not eval
    assert out[eval_id]["n_eval_docs_hit"] == 0


def test_line_dedup_keep_first_and_normalization(spark):
    """C4 keep-one semantics on a multi-line fixture: a boilerplate
    line repeated across docs keeps only its first (doc_id, line_no,
    seg_idx) occurrence; normalization folds case/whitespace; long
    lines sub-chunk every LINE_SEG_TOKENS tokens; empty lines drop."""
    nav = "Home | About | Contact"
    long_line = " ".join(f"w{i}" for i in range(dedup.LINE_SEG_TOKENS + 3))
    rows = [
        (1, f"{nav}\nunique first body\n\n{long_line}"),
        (2, f"  HOME   |  about | CONTACT \nsecond unique body"),
        (3, nav.lower()),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["line_no"], r["seg_idx"]): r
        for r in dedup.line_dedup(docs).collect()
    }
    norm_nav = "home | about | contact"
    navs = [k for k, r in out.items() if r["seg"] == norm_nav]
    assert sorted(navs) == [(1, 0, 0), (2, 0, 0), (3, 0, 0)]
    assert all(out[k]["n_occ"] == 3 for k in navs)
    assert [out[k]["keep"] for k in sorted(navs)] == [True, False, False]
    # long line chunked into two segments, both unique -> kept
    longs = [r for r in out.values() if r["doc_id"] == 1 and r["line_no"] == 3]
    assert sorted(r["seg_idx"] for r in longs) == [0, 1]
    assert all(r["keep"] and r["n_occ"] == 1 for r in longs)
    # the empty line (line_no 2 of doc 1) produced no rows
    assert not any(k[0] == 1 and k[1] == 2 for k in out)
    # uniques kept
    assert out[(2, 1, 0)]["seg"] == "second unique body"
    assert out[(2, 1, 0)]["keep"]


def test_cc_releases_superseded_checkpoints(spark):
    """Multi-round CC must not accumulate executor storage: every
    superseded round's localCheckpoint blocks are released once the
    changed-count has read them, leaving at most the final labels
    frame persisted after the result is collected."""
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 220)], "a long, b long"
    )
    out = dedup.connected_components(pairs)
    assert out.count() == 21  # multi-round convergence (path graph)
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    # only the final labels checkpoint (still referenced by `out`) may
    # remain beyond whatever was persisted before the call
    assert after - before <= 1


def test_connected_components_long_chain(spark):
    """The review scenario that motivated pointer jumping: a 30-node
    path graph (diameter 29, beyond plain min-propagation's practical
    round budget) must resolve to a single cluster labeled by its min
    node — and shortcutting must get there well inside CC_MAX_ITERS."""
    from pdf_ocr_comparison_tool_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 129)], "a long, b long"
    )
    out = dedup.connected_components(pairs).collect()
    assert len(out) == 30
    assert all(r["cluster_id"] == 100 for r in out)
    assert sorted(r["doc_id"] for r in out if r["keep"]) == [100]


def test_connected_components_empty_pairs(spark):
    """Empty edge set → empty result, quickly (the Observation-based
    convergence check must fire on a zero-row materialize too)."""
    pairs = spark.createDataFrame([], "a long, b long")
    out = dedup.connected_components(pairs)
    assert out.count() == 0
    assert out.columns == ["doc_id", "cluster_id", "keep"]


def test_cc_poll_fallback_leaves_module_state(spark):
    """When the convergence metric never arrives, the poll falls back
    to scanning the checkpointed labels and reports the miss to its
    caller; the decaying budget is the caller's, not module state."""
    from types import SimpleNamespace

    missing = SimpleNamespace(isDefined=lambda: False)
    obs = SimpleNamespace(_jo=SimpleNamespace(getRowOrEmpty=lambda: missing))
    labels = spark.createDataFrame([(True,), (False,), (True,)], "chg boolean")
    budget = dedup._OBS_TIMEOUT_SEC
    assert dedup._changed_from_observation(obs, labels, 0.05) == (2, False)
    assert dedup._OBS_TIMEOUT_SEC == budget


def test_containment_relations(spark):
    """All four relation branches on crafted pairs (fed directly — the
    operator is a pair scorer; subset pairs are exactly what banded
    minhash-LSH under-recalls, so candidate generation is pluggable):
    prefix-contained doc → a_in_b with contain_ab == 1.0 exactly
    (a contiguous prefix's word 3-grams are a subset), identical docs
    → duplicate, partial overlap → overlap, sub-threshold drops."""
    base = " ".join(f"tok{i}" for i in range(30))
    rows = [
        (1, base),                                                  # A
        (2, base + " " + " ".join(f"ext{i}" for i in range(40))),   # B ⊃ A
        (3, base),                                                  # C == A
        (4, " ".join(f"tok{i}" for i in range(20))                  # 2/3 of A
            + " " + " ".join(f"oth{i}" for i in range(10))),
        (5, " ".join(f"zzz{i}" for i in range(30))),                # disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    withsig = dedup.with_minhash(docs)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "a long, b long"
    )
    out = {(r["a"], r["b"]): r
           for r in dedup.containment_pairs(withsig, pairs).collect()}
    assert out[(1, 2)]["relation"] == "a_in_b"
    assert out[(1, 2)]["contain_ab"] == 1.0
    assert out[(1, 3)]["relation"] == "duplicate"
    assert out[(1, 4)]["relation"] == "overlap"
    assert (1, 5) not in out  # below CONTAIN_MIN → dropped


def test_bloom_decontaminate_audit(spark):
    """Bloom screen invariants: exact hits are a subset of Bloom hits
    (identical positions for identical grams — false negatives are
    impossible), eval docs fully self-hit and get screened, the FP rate
    stays in the band the m/k arithmetic predicts, and the per-gram
    membership stage is broadcast-join-only (no gram-level exchange)."""
    from pyspark.sql import functions as F

    from pdf_ocr_comparison_tool_spark import synth
    from tests.conftest import SF_DIR_01

    docs = synth.load_table(spark, SF_DIR_01, "documents")
    out = dedup.bloom_decontaminate(docs).cache()
    assert out.filter(F.col("n_exact_hit") > F.col("n_bloom_hit")).count() == 0
    assert out.filter(F.col("n_false_pos") < 0).count() == 0
    # eval docs: every own gram is in the set -> exact == n_grams, screened
    from pdf_ocr_comparison_tool_spark.operators.features import hash_bucket
    ev = out.join(
        docs.select("doc_id").filter(
            hash_bucket(F.col("doc_id"), dedup.DECON_EVAL_BUCKETS) == 0
        ),
        "doc_id",
    ).filter(F.col("n_grams") > 0)
    assert ev.filter(F.col("n_exact_hit") != F.col("n_grams")).count() == 0
    assert ev.filter(~F.col("screened")).count() == 0
    # fp rate over non-eval grams: positive (m sized to make it
    # measurable) but bounded well under the screen usefulness ceiling
    tot = out.agg(
        F.sum("n_grams").alias("g"),
        F.sum("n_exact_hit").alias("e"),
        F.sum("n_false_pos").alias("fp"),
    ).collect()[0]
    rate = tot.fp / max(tot.g - tot.e, 1)
    assert 0.001 < rate < 0.15, rate
    # plan: k membership joins + exact join + doc join are ALL
    # broadcast — corpus rows never cross a shuffled join (the only
    # gram-keyed exchanges are the eval-side distincts, bounded by the
    # eval slice)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= dedup.BLOOM_K
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    out.unpersist()
