"""Partition invariance of the full matching pipeline: identical best
matches regardless of input partitioning (the determinism requirement
extended beyond extraction)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import queries as Q
from pdf_ocr_comparison_tool_spark.operators import matching
from tests.conftest import SF_DIR


def _best_map(best):
    return {
        (r["doc_id"], r["page_num"]): (r["t_doc"], r["t_page"], r["sim"], r["status"])
        for r in best.collect()
    }


def test_match_best_partition_invariant(spark):
    v, r = Q._featured_roles(spark, SF_DIR)
    a = _best_map(matching.best_matches(v, matching.match_pages(v, r)))

    v2 = v.repartition(3)
    r2 = r.repartition(11, "doc_id")
    b = _best_map(matching.best_matches(v2, matching.match_pages(v2, r2)))
    assert a == b


def test_exact_dup_probe_gets_sim_one(spark):
    v, r = Q._featured_roles(spark, SF_DIR)
    best = matching.best_matches(v, matching.match_pages(v, r))
    # every voucher page whose hash exists in refs must match at 1.0
    hashes = {row["text_hash"] for row in r.select("text_hash").collect()}
    exact_probes = {
        (row["doc_id"], row["page_num"])
        for row in v.collect()
        if row["text_hash"] in hashes
    }
    got = {
        (row["doc_id"], row["page_num"]): row["sim"]
        for row in best.collect()
    }
    assert exact_probes, "fixture must contain exact duplicates"
    for k in exact_probes:
        assert got[k] == 1.0, k


def test_null_key_array_keeps_other_blocking_keys(spark):
    """A NULL dates array must not drop a page's amount keys (concat of
    a NULL array is NULL): the probe still blocks onto the reference
    page that shares only its amount, which the one-row fallback
    (first reference page in order, a non-match) would never reach."""
    schema = (
        "doc_id long, page_num int, text string, text_hash string, "
        "dates array<string>, amounts array<string>"
    )
    v = spark.createDataFrame(
        [(1, 1, "invoice acme corp total due 1,250.00", "v1", None, ["1,250.00"])],
        schema,
    )
    r = spark.createDataFrame(
        [
            (10, 1, "unrelated filler page", "r10", ["2020-01-01"], ["9.99"]),
            (11, 1, "invoice acme corp total due 1250.00", "r11", None, ["1250.00"]),
        ],
        schema,
    )
    got = matching.match_pages(v, r, fallback_cap=1).collect()
    assert {(x["t_doc"], x["t_page"]) for x in got} == {(11, 1)}


def test_ref_per_key_cap_binds(spark):
    """One voucher shares a single date key with REF_PER_KEY_CAP + 10
    reference pages, and its textually best page has the largest
    (t_doc, t_page): the cap keeps the REF_PER_KEY_CAP smallest pairs,
    so that page is never returned (COVERAGE.md deviation #1) and the
    best match is the best among the capped pairs."""
    cap = matching.REF_PER_KEY_CAP
    text = "invoice acme corp total due 1250 march"
    schema = (
        "doc_id long, page_num int, text string, text_hash string, "
        "dates array<string>, amounts array<string>"
    )
    v = spark.createDataFrame([(1, 1, text, "v1", ["2020-01-01"], [])], schema)
    refs = [
        (100 + i, 1, f"{text} {'z' * (2 + i * 7 % 11)}", f"r{i}", ["2020-01-01"], [])
        for i in range(cap + 9)
    ]
    top = (100 + cap + 9, 1, text + "!", "top", ["2020-01-01"], [])
    r = spark.createDataFrame(refs + [top], schema)

    def sim(t):
        # every reference text is the voucher text plus a suffix, so
        # the edit distance is the suffix length
        return 1.0 - (len(t) - len(text)) / len(t)

    # the excluded page really is the textual best of the whole bucket
    assert all(sim(top[2]) > sim(x[2]) for x in refs)
    ranked = matching.match_pages(v, r)
    got = {(x["t_doc"], x["t_page"]) for x in ranked.collect()}
    assert (top[0], top[1]) not in got
    capped = sorted(refs, key=lambda x: (x[0], x[1]))[:cap]
    want = min(capped, key=lambda x: (-sim(x[2]), x[0], x[1]))
    best = matching.best_matches(v, ranked).collect()
    assert [(b["t_doc"], b["t_page"], b["sim"]) for b in best] == [
        (want[0], want[1], sim(want[2]))
    ]


def test_warm_match_query_compiles_nothing(spark):
    """The codegen cache holds a whole match query's generated classes:
    once warm, a run of the query compiles no class (with Spark's
    default 100-entry cache every warm run recompiled ~50). AQE's
    runtime join choice is timing-dependent, so the first run that
    meets a new plan variant compiles its 2-3 stages; the query gets
    up to four warm runs to reach zero."""
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    q = Q.queries()["match_best"]
    counts: list[int] = []
    while len(counts) < 5 and (len(counts) < 2 or counts[-1]):
        before = compiled.getCount()
        q(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        counts.append(compiled.getCount() - before)
    assert counts[-1] == 0, counts
    assert max(counts[1:]) <= 5, counts
