"""Deterministic synthesis of the interleaved-spans input table.

Two generators, same contract (FIXTURES.md §1):

* :func:`spans_df` — derives ``(doc_id, spans:array<struct<kind,text,
  media_ref,offset>>)`` from the driver's flat ``documents`` parquet with
  pure built-in column expressions (zero shuffle: one ``transform`` over
  a ``sequence``). The arithmetic spec lives in :mod:`sqlgen` so the
  DuckDB oracle derives byte-identical spans.

* :func:`fixture_docs_pandas` — a numpy-seeded pandas generator for
  pytest with the adversarial shapes the SQL derivation can't cheaply
  express: media-heavy skew docs (100× span count), empty documents,
  duplicate offsets with total-order tiebreaks, pure-CJK spans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sqlgen as G

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)


# path → scan partition count, so the RDD-translation probe runs once
# per table per process (the count only depends on file layout + split
# config, both stable within a session)
_SCAN_PARTS: dict[str, int] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a table with a non-splittable-input rebalance: when the
    scan yields fewer partitions than the cluster's default parallelism
    (few / monolithic files — locally, a single-row-group parquet), all
    downstream narrow work (tokenize, span synthesis, regex feature
    extraction) would run on that handful of cores while the rest of
    the cluster idles. One cheap round-robin exchange of the raw rows
    restores full parallelism — the standard pattern for non-splittable
    inputs (gzip, few big files) on a real cluster. On a 100 TB table
    the scan already yields >> parallelism partitions and the rebalance
    never triggers, so no corpus-wide shuffle is added at scale.
    Catalyst still pushes filters and prunes columns through the
    exchange (plan-guarded in tests/test_plans.py)."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    parallelism = spark.sparkContext.defaultParallelism
    n_parts = _SCAN_PARTS.get(path)
    if n_parts is None:
        n_parts = df.rdd.getNumPartitions()
        _SCAN_PARTS[path] = n_parts
    if n_parts < parallelism:
        df = df.repartition(parallelism)
    return df


def spans_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet → (doc_id, spans) per sqlgen spec."""
    return spans_from_docs(load_table(spark, sf_dir, "documents").select("doc_id", "text"))


def spans_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, spans) per sqlgen spec.

    Narrow-only plan (scan → project); span arrays are built in stored
    (shuffled) order ``k = 0..n-1`` with pseudo-random offsets, so the
    extraction sort is genuinely exercised.
    """

    def mk_span(k):
        h = (
            F.col("doc_id") * F.lit(G.H_MULT) + k * F.lit(G.H_KMULT) + F.lit(G.H_ADD)
        ) % F.lit(G.H_MOD)
        is_media = (h % G.MEDIA_FRAC_MOD) < G.MEDIA_FRAC_LT
        seg = F.substring(
            F.col("text"), F.lit(1) + (k * G.SEG_STRIDE).cast("int"), G.SEG_LEN
        )
        marker = (h % G.MARKER_MOD) == 0
        body = F.concat(
            F.when(marker, F.lit("<|ref|>")).otherwise(F.lit("")),
            seg,
            F.when((h % G.ENRICH_MOD) == 0, F.lit(G.ENRICH_TEXT)).otherwise(F.lit("")),
            F.when(marker, F.lit("<|/ref|>[[12, 34, 56, 78]]")).otherwise(F.lit("")),
            F.when((h % G.NOISE_MOD) == 0, F.lit("\n" + G.NOISE_LINE_0))
            .when((h % G.NOISE_MOD) == 1, F.lit("\n" + G.NOISE_LINE_1))
            .otherwise(F.lit("")),
        )
        return F.struct(
            F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
            F.when(is_media, F.lit("")).otherwise(body).alias("text"),
            F.when(
                is_media,
                F.concat(
                    F.lit("m://"), F.col("doc_id").cast("string"), F.lit("/"), k.cast("string")
                ),
            )
            .otherwise(F.lit(""))
            .alias("media_ref"),
            (h % G.OFFSET_MOD).cast("int").alias("offset"),
        )

    n_spans = (F.lit(1) + F.col("doc_id") % G.NSPAN_MOD).cast("int")
    return docs.select(
        "doc_id",
        F.transform(F.sequence(F.lit(0), n_spans - 1), mk_span).alias("spans"),
    )


def grounded_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet → (doc_id, grounded) raw grounded-output blobs
    per the sqlgen GR_* spec (deepseek_ocr2_engine.py:270-283 format).
    Narrow-only: one transform over a sequence + array_join per doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def mk_seg(k):
        h = (
            F.col("doc_id") * F.lit(G.H_MULT)
            + k * F.lit(G.GR_KMULT)
            + F.lit(G.GR_ADD)
        ) % F.lit(G.GR_MOD)
        x1 = h % 900
        y1 = (h * 7) % 1200
        x2 = h % 900 + 40 + h % 100
        y2 = (h * 7) % 1200 + 20 + h % 50
        return F.concat(
            F.lit(G.GR_HDR),
            x1.cast("string"), F.lit(", "),
            y1.cast("string"), F.lit(", "),
            x2.cast("string"), F.lit(", "),
            y2.cast("string"),
            F.lit("]]<|/det|>\n"),
            F.substring(
                F.col("text"), F.lit(1) + (k * G.GR_STRIDE).cast("int"), G.GR_LEN
            ),
        )

    n = (F.lit(1) + F.col("doc_id") % G.GR_NSPAN_MOD).cast("int")
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n - 1), mk_seg), "\n"
        ).alias("grounded"),
    )


def html_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents parquet → (doc_id, html) per the :mod:`htmlgen` spec."""
    return html_from_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def html_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, html) per the :mod:`htmlgen` spec.

    Narrow-only DataFrame twin of ``htmlgen.html_cte``: one transform
    over a sequence builds the per-doc block array in order b = 0..n-1,
    so no groupBy/ordered-agg shuffle is needed — the blocks are born
    sorted and ``array_join`` with a newline IS the string_agg."""
    from . import htmlgen as H

    tlen = F.length("text")

    def mk_block(b):
        bh = (
            F.col("doc_id") * F.lit(H.HB_MULT)
            + b * F.lit(H.HB_BMULT)
            + F.lit(H.HB_ADD)
        ) % F.lit(H.HB_MOD)
        tag = F.lit(H.HB_TAG_DEFAULT)
        for m, t in reversed(H.HB_TAG_CASES):
            tag = F.when(bh % 10 == m, F.lit(t)).otherwise(tag)
        is_chrome = tag.isin(*H.HB_CHROME_TAGS)
        blen = (
            F.when(is_chrome, F.lit(H.HB_NAV_LEN))
            .when(tag == "h2", F.lit(H.HB_HEAD_LEN))
            .when(tag == "li", F.lit(H.HB_LI_LEN))
            .otherwise(F.lit(H.HB_P_LEN))
        )
        n_a = (
            F.when(is_chrome, F.lit(2) + bh % 3)
            .when(tag == "li", F.lit(1))
            .when(bh % 5 == 0, F.lit(1))
            .otherwise(F.lit(0))
        )
        anchors = F.concat(
            *[
                F.when(
                    F.lit(j) < n_a,
                    F.concat(
                        F.lit(' <a href="#">lnk'),
                        ((bh + j * H.HB_ANCHOR_MULT) % H.HB_ANCHOR_MOD).cast(
                            "string"
                        ),
                        F.lit("</a>"),
                    ),
                ).otherwise(F.lit(""))
                for j in range(H.HB_MAX_ANCHORS)
            ]
        )
        img = F.when(
            (bh % H.HB_IMG_MOD == 0) & tag.isin("p", "div"),
            F.concat(
                F.lit('<img src="m://'),
                F.col("doc_id").cast("string"),
                F.lit("/"),
                b.cast("string"),
                F.lit('"/>'),
            ),
        ).otherwise(F.lit(""))
        body = F.translate(
            F.expr("text").substr(
                F.lit(1) + (b * H.HB_STRIDE) % F.greatest(tlen - 20, F.lit(1)),
                blen,
            ),
            "\n",
            " ",
        )
        return F.concat(
            F.lit("<"), tag, F.lit(">"), img, body, anchors,
            F.lit("</"), tag, F.lit(">"),
        )

    n_blocks = (F.lit(3) + F.col("doc_id") % H.HB_NBLOCK_MOD).cast("int")
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_blocks - 1), mk_block), "\n"
        ).alias("html"),
    )


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic pages IR (voucher + reference roles), rendered from
    the shared spec in :mod:`pagesgen` — same SQL text the DuckDB oracle
    runs, modulo dialect."""
    from . import pagesgen as P
    from . import sqlgen as G

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(P.pages_sql(G.SPARK))


# --------------------------------------------------------------- fixtures
_CJK_VOCAB = [
    "记账凭证", "银行回单", "合同书", "会议纪要", "发票", "审批单",
    "工程进度报告", "资金申请", "招标文件", "项目结算", "生物孵化器",
]
_ASCII_VOCAB = [
    "spark", "group", "query", "row", "data", "filter", "window",
    "merge", "scan", "join", "stream", "table", "sort", "key",
]
_DATES = ["2003-05-31", "2003年5月31日", "2004/12/01", "2005.3.15"]
_AMOUNTS = ["300000元", "¥1,234.56", "￥88,000", "500万"]
_IDS = ["HT20030001", "FP2004123", "编号: X99881"]
_NOISE = [
    "torch.Size([1, 3, 224, 224])",
    "Setting pad_token_id to eos_token_id",
    "FutureWarning: deprecated call",
    "x",  # len<2 line, must be dropped
]


def fixture_docs_pandas(n_docs: int = 200, seed: int = 42) -> pd.DataFrame:
    """Adversarial documents fixture per FIXTURES.md §1 (seeded)."""
    rng = np.random.default_rng(seed)
    rows = []
    median_spans = 8
    for i in range(n_docs):
        doc_id = f"doc_{i:06d}"
        if i < max(1, int(n_docs * 0.01)):
            n = median_spans * 100  # media-heavy skew doc
            media_p = 0.8
        elif i % 37 == 0:
            n = 0  # empty doc
            media_p = 0.0
        else:
            n = int(rng.integers(1, 2 * median_spans))
            media_p = 0.3
        spans = []
        for k in range(n):
            offset = int(rng.integers(0, 50))  # duplicates guaranteed
            if rng.random() < media_p:
                spans.append(("media", "", f"m://{doc_id}/{k}", offset))
            else:
                words = list(rng.choice(_ASCII_VOCAB, size=3))
                if rng.random() < 0.4:
                    words.append(str(rng.choice(_CJK_VOCAB)))
                if rng.random() < 0.3:
                    words.append(str(rng.choice(_DATES)))
                if rng.random() < 0.3:
                    words.append(str(rng.choice(_AMOUNTS)))
                if rng.random() < 0.2:
                    words.append(str(rng.choice(_IDS)))
                text = " ".join(words)
                if rng.random() < 0.25:
                    text = "<|ref|>" + text + "<|/ref|>[[1, 2, 3, 4]]"
                if rng.random() < 0.3:
                    text = text + "\n" + str(rng.choice(_NOISE))
                spans.append(("text", text, "", offset))
        order = rng.permutation(len(spans))
        spans = [spans[j] for j in order]
        rows.append(
            {
                "doc_id": doc_id,
                "spans": [
                    {"kind": s[0], "text": s[1], "media_ref": s[2], "offset": s[3]}
                    for s in spans
                ],
            }
        )
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


FIXTURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)
