"""Extraction core: reading-order sort + normalize + reindex (SURVEY §7.0).

Rebuilds, Spark-first, the reference pipeline stages W1 (reading-order
sort + ordered concat; reference ocr_engine.py:33-37, run_ocr.py:194-198),
T6/T7 (marker + debug-pattern strip; deepseek_ocr2_engine.py:300-318) and
F1/F2 (empty/noise line filters; ocr_engine.py:226-228,
deepseek_ocr2_engine.py:320-341).

The per-document work is one JVM kernel, ``extract_spans`` (see
:mod:`..kernels` and ``ExtractSpans.java``): one call per row, in the
task thread, with **no shuffle and no Python** in this stage. Built-in
higher-order functions express the same steps, but Spark evaluates their
lambdas interpreted (no whole-stage codegen), which made them the hot
path of every checkpointed job; that chain stays in
``tests/test_kernels.py`` as the kernel's parity reference. The stage is
embarrassingly parallel: each document's spans array is rewritten in
place within its partition; partition count and placement never affect
the emitted sequence because the sort key ``(offset, kind, media_ref,
text)`` is a total order per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels
from .. import sqlgen as G


def extract_ordered_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans<kind,text,media_ref,offset>) →
    (doc_id, spans<kind,text,media_ref,order>) — the byte-equality
    contract of the north rule.

    Per document (narrow, array-local), in the kernel:
      1. normalize each text span (media spans keep ``text=''``):
         strip ``<|...|>`` markers and ``[[x,y,x,y]]`` bbox literals,
         drop debug/short lines, trim, rejoin;
      2. drop text spans whose normalized text is empty;
      3. total-order sort by ``(offset, kind, media_ref, text)``, so the
         result is partition-invariant;
      4. reindex ``order = 0..n-1``.
    """
    spans = kernels.extract_spans(
        docs.sparkSession, F.col("spans"), docs.schema["spans"].dataType
    )
    return docs.withColumn("spans", spans)


def parse_grounded(df: DataFrame) -> DataFrame:
    """W2: parse a raw grounded-output blob into ordered (bbox, text)
    spans (reference deepseek_ocr2_engine.py:270-283 regex parse; the
    derived reading order — y-major, then x, then parse position — is
    the operator the reference leaves implicit in findall order).

    (doc_id, grounded) → (doc_id, ord, x1, y1, x2, y2, txt). Narrow
    split/extract per document + one per-doc window for the reindex.
    Pieces that don't match the header (e.g. the leading fragment) and
    spans whose body trims to '' are dropped, as in the reference.
    """
    from pyspark.sql import Window

    pieces = F.split(F.col("grounded"), G.GR_REF_SPLIT_RE)
    exploded = df.select(
        "doc_id", F.posexplode(pieces).alias("k", "piece")
    )
    grp = lambda g: F.regexp_extract("piece", G.GR_HDR_RE, g)  # noqa: E731
    parsed = exploded.select(
        "doc_id",
        "k",
        grp(1).alias("x1s"),
        grp(2).alias("y1s"),
        grp(3).alias("x2s"),
        grp(4).alias("y2s"),
        # full whitespace strip (not trim(): ASCII-space-only) — the
        # reference strips all whitespace (deepseek_ocr2_engine.py:277
        # text.strip()), incl. the trailing '\n' join separator
        F.regexp_replace(
            F.regexp_extract("piece", G.GR_BODY_RE, 1), r"^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$", ""
        ).alias("txt"),
    ).filter((F.col("x1s") != "") & (F.col("txt") != ""))
    kept = parsed.select(
        "doc_id",
        "k",
        F.col("x1s").cast("int").alias("x1"),
        F.col("y1s").cast("int").alias("y1"),
        F.col("x2s").cast("int").alias("x2"),
        F.col("y2s").cast("int").alias("y2"),
        "txt",
    )
    w = Window.partitionBy("doc_id").orderBy("y1", "x1", "k")
    return kept.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("ord"),
        "x1", "y1", "x2", "y2", "txt",
    )


COL_WIDTH = 450  # layout grid: two columns over the synthetic x∈[0,900)


def column_layout(grounded: DataFrame) -> DataFrame:
    """Multi-column reading order (XY-cut-lite) over parsed grounded
    spans: bucket each span's left edge into a fixed column grid, then
    linearize column-major (col, y, x) — the layout-parse step a
    two-column PDF needs where the flat y-then-x order interleaves the
    columns. Emits both orders + the moved flag so the divergence is
    directly measurable. One additional per-doc window on the same
    doc_id partitioning as the parse reindex — no extra exchange."""
    from pyspark.sql import Window

    col_id = F.floor(F.col("x1") / COL_WIDTH).cast("long")
    w = Window.partitionBy("doc_id").orderBy("col_id", "y1", "x1", "ord_flat")
    out = grounded.select(
        "doc_id", col_id.alias("col_id"),
        F.col("ord").alias("ord_flat"), "x1", "y1", "txt",
    ).select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("ord_col"),
        "col_id", "ord_flat", "x1", "y1", "txt",
    )
    return out.withColumn("moved", F.col("ord_col") != F.col("ord_flat"))


def exploded_spans(docs: DataFrame) -> DataFrame:
    """Extraction result in per-row form (doc_id, ord, kind, text,
    media_ref) — the shape the DuckDB oracle compares. posexplode keeps
    the array order authoritative."""
    extracted = extract_ordered_spans(docs)
    return extracted.select(
        "doc_id", F.posexplode("spans").alias("_p", "s")
    ).select(
        "doc_id",
        F.col("s.order").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def full_text(docs: DataFrame) -> DataFrame:
    """Per-document ordered concat + content hash.

    ``full_text`` = newline-join of ordered text-span texts (reference
    "\\n".join at ocr_engine.py:33-37); ``text_hash`` = md5 of the
    lowercased, whitespace-stripped full text (content_matcher.py:30-35).
    """
    extracted = extract_ordered_spans(docs)
    texts = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
    ft = F.array_join(F.transform(texts, lambda s: s["text"]), "\n")
    return extracted.select(
        "doc_id",
        ft.alias("full_text"),
        F.md5(F.lower(F.regexp_replace(ft, r"[ \t\n\x0B\f\r]+", ""))).alias("text_hash"),
        F.size("spans").alias("n_spans"),
        F.size(texts).alias("n_text_spans"),
    )


# ---------------------------------------------------------------- oracle
def pandas_oracle(docs_pdf):
    """Single-machine reference implementation (pure pandas/python) of
    the extraction contract, for pytest byte-equality checks.

    Returns list of (doc_id, [(kind, text, media_ref, order), ...]).
    """
    import re

    marker = re.compile(G.MARKER_RE)
    bbox = re.compile(G.BBOX_RE)
    debug = re.compile(G.DEBUG_RE)

    def norm(t: str) -> str:
        t = bbox.sub("", marker.sub("", t or ""))
        out = []
        for ln in t.split("\n"):
            ln = ln.strip()
            if len(ln) >= 2 and not debug.search(ln.lower()):
                out.append(ln)
        return "\n".join(out)

    results = []
    for _, row in docs_pdf.iterrows():
        spans = []
        for s in row["spans"]:
            if s["kind"] == "media":
                spans.append((s["offset"], "media", s["media_ref"] or "", ""))
            else:
                t = norm(s["text"])
                if t != "":
                    spans.append((s["offset"], "text", "", t))
        spans.sort(key=lambda x: (x[0], x[1], x[2], x[3]))
        results.append(
            (
                row["doc_id"],
                [(k, t, m, i) for i, (_, k, m, t) in enumerate(spans)],
            )
        )
    return results


def interleave_stats(exploded: DataFrame) -> DataFrame:
    """Structure analytics of the interleaved text+media span sequence
    (the north rule's document shape): per document the span/kind
    counts, media fraction (one int/int division), number of
    text↔media SWITCHES in reading order (the interleaving density a
    multimodal packer budgets against), and the first/last span kinds
    (min_by/max_by on the reading-order index — ord is unique per doc
    so both are deterministic).

    Scale shape: one self-keyed per-doc lag window (fan-in = spans per
    doc) + one map-side-combinable groupBy(doc_id). No data beyond the
    kind column moves."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ord")
    lagged = exploded.select(
        "doc_id", "ord", "kind", F.lag("kind").over(w).alias("pk")
    )
    return lagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum((F.col("kind") == "text").cast("long"))
        .cast("long")
        .alias("n_text"),
        F.sum((F.col("kind") == "media").cast("long"))
        .cast("long")
        .alias("n_media"),
        F.sum(
            (F.col("pk").isNotNull() & (F.col("kind") != F.col("pk")))
            .cast("long")
        ).cast("long").alias("n_switches"),
        F.min_by("kind", "ord").alias("first_kind"),
        F.max_by("kind", "ord").alias("last_kind"),
    ).withColumn(
        "media_frac",
        F.col("n_media").cast("double") / F.col("n_spans").cast("double"),
    )


def doc_outline(exploded: DataFrame) -> DataFrame:
    """Structural template detection over the interleaved span
    sequence: each document's layout collapses to a run-length
    OUTLINE signature ("t3,m1,t2" = 3 text spans, 1 media, 2 text in
    reading order); documents sharing a signature share a template —
    the boilerplate/template-family signal layout-aware curation
    groups on (structure-only: no text content is compared). Emits
    one row per signature: (signature, n_docs, n_spans, example_doc =
    min doc_id).

    Scale shape: runs form via the gaps-and-islands lag+cumsum on the
    self-keyed per-doc window; the signature is an ordered in-doc fold
    (bounded by spans per doc); the final groupBy(signature) is
    map-side combinable — a 10⁹-doc template family is one group
    row."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ord")
    brk = F.when(
        F.lag("kind").over(w).isNull()
        | (F.col("kind") != F.lag("kind").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    grp = (
        exploded.select("doc_id", "ord", "kind")
        .withColumn("brk", brk)
        .withColumn(
            "grp",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    runs = grp.groupBy("doc_id", "grp").agg(
        F.min("kind").alias("kind"),
        F.count("*").cast("long").alias("run_len"),
        F.min("ord").alias("ord0"),
    )
    part = F.concat(
        F.substring("kind", 1, 1), F.col("run_len").cast("string")
    )
    sig = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("ord0"), part.alias("part")))
            ),
            lambda s: s["part"],
        ),
        ",",
    )
    per_doc = runs.groupBy("doc_id").agg(
        sig.alias("signature"), F.sum("run_len").cast("long").alias("n_spans")
    )
    return per_doc.groupBy("signature").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_spans").cast("long").alias("n_spans"),
        F.min("doc_id").alias("example_doc"),
    )


def media_captions(exploded: DataFrame) -> DataFrame:
    """Caption-candidate alignment over the interleaved text+media
    sequence: every media span paired with the nearest text span on
    EACH side in reading order, plus the caption pick — the nearer
    side, ties broken toward the preceding text (the convention
    figure-caption harvesting uses: a caption usually precedes or
    immediately follows its figure). This is the alignment table an
    interleaved multimodal packer reads to attach text supervision to
    an image, and the per-media counterpart of
    :func:`interleave_stats`'s document-level density signal.

    Scale shape: two frames of the SAME self-keyed per-doc window
    (one exchange, fan-in = spans per doc) carrying only (kind, ord,
    text) — media bytes never enter; the media filter then drops the
    text rows before anything wide is emitted. No joins.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("ord")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    wn = w.rowsBetween(1, Window.unboundedFollowing)
    t_text = F.when(F.col("kind") == "text", F.col("text"))
    t_ord = F.when(F.col("kind") == "text", F.col("ord"))
    sided = (
        exploded.select(
            "doc_id",
            F.col("ord").cast("long").alias("ord"),
            "kind",
            "media_ref",
            F.last(t_text, ignorenulls=True).over(wp).alias("prev_text"),
            F.last(t_ord, ignorenulls=True).over(wp).cast("long").alias("prev_ord"),
            F.first(t_text, ignorenulls=True).over(wn).alias("next_text"),
            F.first(t_ord, ignorenulls=True).over(wn).cast("long").alias("next_ord"),
        )
        .filter(F.col("kind") == "media")
        .drop("kind")
    )
    nearer_next = (
        F.col("prev_ord").isNotNull()
        & F.col("next_ord").isNotNull()
        & ((F.col("next_ord") - F.col("ord")) < (F.col("ord") - F.col("prev_ord")))
    )
    side = (
        F.when(F.col("prev_ord").isNull() & F.col("next_ord").isNull(), F.lit("none"))
        .when(F.col("prev_ord").isNull() | nearer_next, F.lit("next"))
        .otherwise(F.lit("prev"))
    )
    return sided.withColumn("caption_side", side).withColumn(
        "caption",
        F.when(F.col("caption_side") == "prev", F.col("prev_text"))
        .when(F.col("caption_side") == "next", F.col("next_text"))
        .otherwise(F.lit("")),
    )
