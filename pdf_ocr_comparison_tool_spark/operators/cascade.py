"""Engine-cascade operator (SURVEY §2.3 J8, §2.2 F6, §4 O9).

The reference's hybrid smart mode (hybrid_ocr_engine.py:152-182) runs
the fast engine on every page, then re-runs the accurate engine only on
pages whose average confidence falls below 0.85 (threshold :64) and
replaces those rows. Spark shape: split → recompute → unionByName — a
cost-based adaptive re-execution expressed as dataflow.

The sandbox has no OCR engines; engine scores are deterministic
functions of the page key standing in for per-engine confidence
models. The dataflow (gate, split, recompute, union, lineage counters —
A12) is the operator under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONF_THRESHOLD = 0.85  # reference hybrid_ocr_engine.py:64


def engine_a_conf(doc_id, page_num) -> "F.Column":
    """Fast-engine synthetic confidence in [0,1]."""
    return (((doc_id * 131 + page_num * 17 + 5) % 101) / F.lit(100.0)).cast("double")


def engine_b_conf(doc_id, page_num) -> "F.Column":
    """Accurate-engine synthetic confidence, biased high."""
    return (
        (F.lit(70) + (doc_id * 37 + page_num * 11 + 3) % 31) / F.lit(100.0)
    ).cast("double")


def cascade(pages: DataFrame) -> DataFrame:
    """pages(doc_id, role, page_num, …) → + engine_used, conf.

    high-confidence rows keep engine A; the rest are re-scored by
    engine B (J8 split/recompute/union)."""
    a_conf = engine_a_conf(F.col("doc_id"), F.col("page_num"))
    scored = pages.withColumn("conf_a", a_conf)
    high = scored.filter(F.col("conf_a") >= CONF_THRESHOLD).select(
        "doc_id", "role", "page_num",
        F.lit("engine_a").alias("engine_used"),
        F.col("conf_a").alias("conf"),
    )
    low = scored.filter(F.col("conf_a") < CONF_THRESHOLD).select(
        "doc_id", "role", "page_num",
        F.lit("engine_b").alias("engine_used"),
        engine_b_conf(F.col("doc_id"), F.col("page_num")).alias("conf"),
    )
    return high.unionByName(low)


def cascade_stats(cascaded: DataFrame) -> DataFrame:
    """A12 engine-call counters (hybrid_ocr_engine.py:225-233)."""
    return cascaded.groupBy("engine_used").agg(
        F.count("*").alias("n_pages"),
        # decimal sum + one IEEE division (not decimal avg): bit-exact
        # cross-engine — see merge.merge_page_matches avg_sim
        (
            F.sum(F.col("conf").cast("decimal(28,12)")).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_conf"),
    )


def passthrough(pages: DataFrame, engine: str) -> DataFrame:
    """Single-engine passthrough (hybrid_ocr_engine.py:119-123
    ``paddle_only`` / ``deepseek_only``): every page scored by that
    engine, no gate, no recompute. Same output schema as the cascade."""
    conf = (
        engine_a_conf(F.col("doc_id"), F.col("page_num"))
        if engine == "engine_a"
        else engine_b_conf(F.col("doc_id"), F.col("page_num"))
    )
    return pages.select(
        "doc_id", "role", "page_num",
        F.lit(engine).alias("engine_used"),
        conf.alias("conf"),
    )


def recognize(pages: DataFrame, mode: str = "smart") -> DataFrame:
    """Mode dispatch of hybrid_ocr_engine.recognize_image:119-124:
    ``paddle_only`` → fast-engine passthrough, ``deepseek_only`` →
    accurate-engine passthrough, anything else → the smart cascade."""
    if mode == "paddle_only":
        return passthrough(pages, "engine_a")
    if mode == "deepseek_only":
        return passthrough(pages, "engine_b")
    return cascade(pages)
