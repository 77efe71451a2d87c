"""Skew handling for media-heavy documents (north rule; SURVEY §4 item 2).

~1% of web documents carry 100× the median span count (FIXTURES.md §1).
A plain ``repartition(hash(doc_id))`` puts whole documents on single
tasks — correct (per-doc operators are array-local) but slow when a few
partitions receive several heavy docs. Remedies:

* :func:`salted_repartition` — heavy docs (``size(spans)`` above a
  threshold) get a per-doc salt derived from content so they spread
  across ``SALT_N`` partitions; light docs keep salt 0. Because every
  operator in the extraction path is **array-local** (no per-doc
  grouping needed post-extraction), splitting a doc's placement never
  affects results.

* AQE (``spark.sql.adaptive.skewJoin.enabled``) covers join-side skew
  (hot blocking keys in J2/J3) at runtime; the explicit salt covers
  scan/write balance which AQE does not rebalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HEAVY_SPAN_THRESHOLD = 64
SALT_N = 16


def salted_repartition(
    docs: DataFrame,
    n_partitions: int,
    heavy_threshold: int = HEAVY_SPAN_THRESHOLD,
) -> DataFrame:
    salt = F.when(
        F.size("spans") > heavy_threshold,
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
            ).cast("long"),
            F.lit(SALT_N),
        ),
    ).otherwise(F.lit(0))
    return (
        docs.withColumn("_salt", salt)
        .repartition(n_partitions, F.col("doc_id"), F.col("_salt"))
        .drop("_salt")
    )


SKEW_TOP = 20


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """Hot-key diagnostic — the report that decides whether a join/agg
    key needs salting: the ``SKEW_TOP`` heaviest values of ``key`` with
    their row counts, share of all rows (int/int), and times-over-mean
    ratio (cnt·n_keys / n_total — exact BIGINT products, one IEEE
    division). Rank ties break by key value.

    Scale shape: one map-side-combinable groupBy(key) → a TakeOrdered
    top-N (never a global sort) + a 1-row totals broadcast; the rank
    window's input is the ≤SKEW_TOP rows themselves."""
    from pyspark.sql import Window

    per = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    heavy = per.orderBy(F.desc("n"), F.asc("key_value")).limit(SKEW_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("key_value"))
    return (
        heavy.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "key_value",
            "n",
            "n_total",
            "n_keys",
            (F.col("n").cast("double") / F.col("n_total").cast("double"))
            .alias("share"),
            (
                (F.col("n") * F.col("n_keys")).cast("double")
                / F.col("n_total").cast("double")
            ).alias("x_mean"),
        )
    )
