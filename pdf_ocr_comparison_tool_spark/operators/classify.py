"""Keyword-rule document classification (SURVEY §2.4 A10/A11, §2.3 J9/J10).

Rebuilds the reference classifier (document_classifier.py:52-103): per
document type ONE alternation regex over its keywords, matches =
len(findall) (non-overlapping, leftmost-first — nested keywords such as
合同/合同金额 count once, exactly like Python's re); score = matches ×
(100 − priority); best type by score (ties → lower priority = the
reference's dict order); confidence = best/total; no match → ("其他",
0.5).

Spark shape: ONE narrow scan — per page an array of 9 per-type structs
(findall count via sentinel-replace length arithmetic; Java regex and
RE2 share Python's leftmost-first alternation semantics), exploded and
filtered, then a window argmax. No join, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config as C

_SENTINEL = "\x01"  # never appears in document text


def findall_count(text_col, pattern: str) -> "F.Column":
    """len(re.findall(pattern, text)): replace every non-overlapping
    match with one sentinel char and count sentinels. Pre-strips any
    literal chr(1) from the text so adversarial input can't inflate the
    sentinel count (the oracle does the same)."""
    clean = F.replace(text_col, F.lit(_SENTINEL), F.lit(""))
    r = F.regexp_replace(clean, F.lit(pattern), F.lit(_SENTINEL))
    return (
        F.length(r) - F.length(F.replace(r, F.lit(_SENTINEL), F.lit("")))
    ).cast("long")


def classify_pages(pages: DataFrame) -> DataFrame:
    """pages(keys…, text) → keys + doc_type, score, confidence, n_matched."""
    keys = ["doc_id", "role", "page_num"]
    entries = [
        F.struct(
            F.lit(t).alias("doc_type"),
            F.lit(p).alias("priority"),
            findall_count(F.col("text"), pat).alias("matches"),
        )
        for t, p, pat in C.doc_type_patterns()
    ]
    hits = (
        pages.select(*keys, F.explode(F.array(*entries)).alias("h"))
        .select(*keys, "h.doc_type", "h.priority", "h.matches")
        .filter(F.col("matches") > 0)
        .withColumn("score", F.col("matches") * (100 - F.col("priority")))
    )
    # argmax + partition total in ONE map-side-combinable aggregation:
    # min_by over the (−score, priority, doc_type) ordering struct is
    # the row_number (score desc, priority asc, doc_type asc) first row
    # — identical winner and tie-break — and sum(score) rides the same
    # groupBy (previously a window sort + a second window for the total)
    ranked = (
        hits.groupBy(*keys)
        .agg(
            F.min_by(
                F.struct(
                    F.col("doc_type"), F.col("score"), F.col("matches")
                ),
                F.struct(
                    (-F.col("score")).alias("ns"),
                    F.col("priority"),
                    F.col("doc_type"),
                ),
            ).alias("b"),
            F.sum("score").alias("total_score"),
        )
        .select(
            *keys,
            F.col("b.doc_type").alias("best_type"),
            F.col("b.score").alias("best_score"),
            (F.col("b.score").cast("double") / F.col("total_score")).alias("best_conf"),
            F.col("b.matches").alias("n_matched"),
        )
    )
    return (
        pages.join(ranked, keys, "left")
        .select(
            *keys,
            F.coalesce("best_type", F.lit(C.DEFAULT_DOC_TYPE)).alias("doc_type"),
            F.coalesce("best_score", F.lit(0)).cast("long").alias("score"),
            F.coalesce("best_conf", F.lit(C.DEFAULT_CONFIDENCE)).alias("confidence"),
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
        )
    )


def type_islands(classified: DataFrame) -> DataFrame:
    """W4: consecutive same-type page runs per (doc, role) — the
    split-by-type grouping (reference pdf_processor.py:334-349), same
    gaps-and-islands shape as the match merge."""
    w = Window.partitionBy("doc_id", "role").orderBy("page_num")
    brk = F.when(
        F.col("doc_type").eqNullSafe(F.lag("doc_type").over(w)), F.lit(0)
    ).otherwise(F.lit(1))
    isl = classified.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy("doc_id", "role", "island")
        .agg(
            F.min("doc_type").alias("doc_type"),  # constant within island
            F.min("page_num").alias("p_lo"),
            F.max("page_num").alias("p_hi"),
            F.count("*").alias("n_pages"),
        )
        .withColumn("island", F.col("island").cast("long"))
        .withColumn("n_pages", F.col("n_pages").cast("long"))
    )


def majority_doc_type(classified: DataFrame) -> DataFrame:
    """Per-document majority page type (A10, reference main.py:303-306 —
    python max(set, key=count); our tiebreak: count desc, type asc)."""
    counts = classified.groupBy("doc_id", "role", "doc_type").agg(
        F.count("*").alias("n_pages")
    )
    # argmax via min_by on (−n_pages, doc_type) — the (n_pages desc,
    # doc_type asc) window's first row, without the per-doc sort
    return (
        counts.groupBy("doc_id", "role")
        .agg(
            F.min_by(
                F.struct(F.col("doc_type"), F.col("n_pages")),
                F.struct((-F.col("n_pages")).alias("nn"), F.col("doc_type")),
            ).alias("b")
        )
        .select(
            "doc_id",
            "role",
            F.col("b.doc_type").alias("doc_type"),
            F.col("b.n_pages").alias("n_pages"),
        )
    )
