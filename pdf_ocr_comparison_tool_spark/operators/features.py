"""Feature extraction over the pages IR (SURVEY §2.7 T1-T5, §2.2 F7).

Rebuilds the reference's regex feature extractors (ocr_engine.py:325-373)
and content hash (content_matcher.py:30-35) as pure built-in column
expressions — ``regexp_extract_all`` + array ops, JVM-side, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import sqlgen as G


def _extract_multi(col: Column, patterns: list[str]) -> Column:
    """Union of regex extraction results, deduped and sorted (the
    reference dedups via list(set(...)) with unspecified order,
    ocr_engine.py:351-373 — we fix a deterministic sorted order)."""
    parts = [F.regexp_extract_all(col, F.lit(p), 0) for p in patterns]
    arr = parts[0] if len(parts) == 1 else F.concat(*parts)
    return F.array_sort(F.array_distinct(arr))


def text_hash(col: Column) -> Column:
    """md5 of lowercased, whitespace-stripped text (T1)."""
    return F.md5(F.lower(F.regexp_replace(col, r"[ \t\n\x0B\f\r]+", "")))


def hash_bucket(col: Column, n: int) -> Column:
    """Deterministic id → bucket in [0, n): first 8 md5 hex chars as an
    integer, mod n (the Python twin of sqlgen.hexint). Pure function of
    the value — stable across engines, runs and partitionings; shared
    by the checkpoint part keying and the train/valid/test split."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(n),
    )


def normalize_amount(col: Column) -> Column:
    """Strip [,，space] from amount strings (T5, content_matcher.py:188)."""
    return F.regexp_replace(col, r"[,， \t\n\x0B\f\r]", "")


def token_count_entries(toks: Column) -> Column:
    """``array<struct<tok,cnt>>`` term-frequency entries via sort +
    shifted-zip run-length — a constant number of O(n log n) array
    passes per page, vs the O(distinct·n) per-token rescan form.

    CRITICAL Spark HOF constraint honored here: only a lambda's INPUT
    array is evaluated once — any non-trivial expression referenced
    *inside* a lambda body (e.g. ``element_at(array_sort(..), i)``)
    re-evaluates per element, turning an intended O(n) pass into
    O(n²·log n). Every step below therefore feeds the previous array
    in as the HOF input and uses only the lambda variables inside.

    Narrow and shuffle-free: the right per-page shape at 100 TB, where
    relational token counting would shuffle the whole token stream.
    """
    s = F.array_sort(toks)
    n = F.size(s)
    # previous-element array: sentinel (impossible token: tokenizers
    # emit alnum-only) followed by s[0..n-2]
    shifted = F.concat(
        F.array(F.lit("\x00")), F.slice(s, 1, F.greatest(n - 1, F.lit(0)))
    )
    # token at each run start, in sorted order (nulls elsewhere, compacted)
    run_toks = F.filter(
        F.zip_with(s, shifted, lambda a, b: F.when(a != b, a)),
        lambda x: x.isNotNull(),
    )
    # run-start positions (0-based), same order
    start_pos = F.filter(
        F.transform(
            F.zip_with(s, shifted, lambda a, b: a != b),
            lambda f, i: F.when(f, i).otherwise(F.lit(-1)),
        ),
        lambda p: p >= 0,
    )
    # each run ends where the next begins (the last at n)
    ends = F.concat(
        F.slice(start_pos, 2, F.greatest(F.size(start_pos) - 1, F.lit(0))),
        F.array(n),
    )
    counts = F.zip_with(start_pos, ends, lambda a, b: (b - a).cast("long"))
    entries = F.zip_with(
        run_toks, counts, lambda t, c: F.struct(t.alias("tok"), c.alias("cnt"))
    )
    empty = F.array().cast("array<struct<tok:string,cnt:bigint>>")
    return F.when(n == 0, empty).otherwise(entries)


def page_keywords_expr(text_col: Column) -> Column:
    """Per-page top-10 keywords by term frequency (reference
    ocr_engine.py:392-412: tokens of length ≥ 2, non-digit,
    Counter.most_common(10); jieba's segmentation replaced by the
    deterministic alnum-run tokenizer, ties broken count desc → token
    asc instead of insertion order).

    Fully native: run-length TF entries, each encoded as
    ``lpad(10^7 − count) || token`` so one ascending array_sort yields
    (count desc, token asc); computed once per page, no shuffle.
    """
    toks = F.filter(
        F.split(F.lower(text_col), r"[^a-z0-9]+"),
        lambda t: (F.length(t) >= 2) & ~t.rlike(r"^[0-9]+$"),
    )
    enc = F.transform(
        token_count_entries(toks),
        lambda e: F.concat(
            F.lpad((F.lit(10000000) - e["cnt"]).cast("string"), 8, "0"), e["tok"]
        ),
    )
    return F.transform(
        F.slice(F.array_sort(enc), 1, 10), lambda s: F.substring(s, 9, 1000000)
    )


def add_features(pages: DataFrame) -> DataFrame:
    """pages(…, text) → + dates, amounts, numbers, text_hash columns."""
    c = F.col("text")
    return (
        pages.withColumn("dates", _extract_multi(c, G.DATE_RES))
        .withColumn("amounts", _extract_multi(c, G.AMOUNT_RES))
        .withColumn("numbers", _extract_multi(c, G.NUMBER_RES))
        .withColumn("text_hash", text_hash(c))
    )


REDACT_DATE, REDACT_AMT, REDACT_ID = "<DATE>", "<AMT>", "<ID>"


def redact_text(col: Column) -> Column:
    """PII-style scrubbing with the reference's own T2-T4 pattern suite
    as the redaction rules (ocr_engine.py:324-344): dates → <DATE>,
    amounts → <AMT>, id numbers → <ID>, applied in that fixed order
    (replacement tokens contain no digits, so later passes can never
    re-match inside an earlier redaction). The standard pre-training
    scrub stage (CCNet/Dolma-style) expressed over this corpus's
    structured-value patterns."""
    from .. import sqlgen as G

    out = col
    for pats, tok in (
        (G.DATE_RES, REDACT_DATE),
        (G.AMOUNT_RES, REDACT_AMT),
        (G.NUMBER_RES, REDACT_ID),
    ):
        for p in pats:
            out = F.regexp_replace(out, p, tok)
    return out


def pattern_hits(col: Column, pats: list) -> Column:
    """Total occurrence count of a T2-T4 pattern list on a text column
    (shared by redact_pages / pii_stats)."""
    tot = None
    for p in pats:
        s = F.size(F.regexp_extract_all(col, F.lit(p), 0))
        tot = s if tot is None else tot + s
    return tot.cast("long")


def redact_pages(pages: DataFrame) -> DataFrame:
    """Per page: pattern-hit counts (occurrences on the ORIGINAL text;
    overlapping patterns may both count, same as the extraction spec's
    pre-dedup concat) + the scrubbed text and its hash."""
    from .. import sqlgen as G

    c = F.col("text")
    red = redact_text(c)
    return pages.select(
        "doc_id",
        "role",
        "page_num",
        pattern_hits(c, G.DATE_RES).alias("n_dates"),
        pattern_hits(c, G.AMOUNT_RES).alias("n_amounts"),
        pattern_hits(c, G.NUMBER_RES).alias("n_numbers"),
        red.alias("redacted"),
        F.md5(red).alias("redacted_hash"),
    )


def pii_stats(docs: DataFrame) -> DataFrame:
    """Per-source PII/governance rollup over the raw corpus: pattern
    occurrence totals (the T2-T4 suite as PII classes), docs with any
    hit, hit density per 1000 chars (one int/int double division) and
    the redaction size delta — the dataset-card compliance row a
    release review needs.

    Scale shape: one narrow per-doc projection (JVM regex counts +
    redacted length) → a single map-side-combinable groupBy on the
    low-cardinality source key. No shuffle of text."""
    from .. import sqlgen as G

    c = F.col("text")
    per = docs.select(
        "source",
        pattern_hits(c, G.DATE_RES).alias("nd"),
        pattern_hits(c, G.AMOUNT_RES).alias("na"),
        pattern_hits(c, G.NUMBER_RES).alias("nn"),
        F.length(c).cast("long").alias("chars"),
        (F.length(c) - F.length(redact_text(c))).cast("long").alias("delta"),
    )
    agg = per.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nd").cast("long").alias("n_dates"),
        F.sum("na").cast("long").alias("n_amounts"),
        F.sum("nn").cast("long").alias("n_numbers"),
        F.sum(
            ((F.col("nd") + F.col("na") + F.col("nn")) > 0).cast("long")
        ).cast("long").alias("docs_with_pii"),
        F.sum("chars").cast("long").alias("n_chars"),
        F.sum("delta").cast("long").alias("redact_delta"),
    )
    hits = F.col("n_dates") + F.col("n_amounts") + F.col("n_numbers")
    dens = F.when(
        F.col("n_chars") > 0,
        (hits * 1000).cast("double") / F.col("n_chars").cast("double"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_dates",
        "n_amounts",
        "n_numbers",
        "docs_with_pii",
        "n_chars",
        "redact_delta",
        dens.alias("pii_per_kchar"),
    )


# ---- URL canonicalization spec (change oracles.url_canonical_sql
# together): synthetic URL per doc with the messy shapes a crawler
# actually yields — cased hosts, /amp suffixes, tracking params,
# fragments, trailing slashes ----
URL_CASED_MOD = 7      # doc_id % 7 == 0 -> 'WWW.' host prefix
URL_AMP_MOD = 5        # doc_id % 5 == 0 -> '/amp' path suffix
URL_SLASH_MOD = 4      # doc_id % 4 == 0 -> trailing '/'
URL_UTM_MOD = 3        # doc_id % 3 == 0 -> '?utm_source=feed' (+ maybe id)
URL_ID_MOD = 11        # doc_id % 11 == 0 -> real 'id=' param (kept)
URL_FRAG_MOD = 6       # doc_id % 6 == 0 -> '#section2'
URL_BLOCK_MOD = 10     # md5-bucket of source == 0 -> blocklisted host
URL_PAGE_DIV = 40      # page id = doc_id DIV 40: the driver source dim
                       # is periodic mod 20, so ids i and i+20 share
                       # (host, page) — re-crawls of the SAME logical
                       # page that differ only in mess -> the canonical
                       # key genuinely collides


def synth_url(doc_id: Column, source: Column) -> Column:
    """Deterministic messy URL for (doc_id, source) — the crawl-log
    shape url_canonical normalizes. Pure column arithmetic; the
    DuckDB oracle derives the identical string."""
    host = F.concat(
        F.when(doc_id % URL_CASED_MOD == 0, F.lit("WWW.")).otherwise("www."),
        source,
        F.lit(".example.com"),
    )
    path = F.concat(
        F.lit("/p/"),
        ((doc_id - doc_id % URL_PAGE_DIV) / URL_PAGE_DIV).cast("long").cast("string"),
        F.when(doc_id % URL_AMP_MOD == 0, F.lit("/amp")).otherwise(""),
        F.when(doc_id % URL_SLASH_MOD == 0, F.lit("/")).otherwise(""),
    )
    q_utm = doc_id % URL_UTM_MOD == 0
    q_id = doc_id % URL_ID_MOD == 0
    query = (
        F.when(q_utm & q_id,
               F.concat(F.lit("?utm_source=feed&id="),
                        (doc_id % 100).cast("string")))
        .when(q_utm, F.lit("?utm_source=feed"))
        .when(q_id, F.concat(F.lit("?id="), (doc_id % 100).cast("string")))
        .otherwise(F.lit(""))
    )
    frag = F.when(doc_id % URL_FRAG_MOD == 0, F.lit("#section2")).otherwise("")
    return F.concat(F.lit("https://"), host, path, query, frag)


def url_canonical(docs: DataFrame) -> DataFrame:
    """URL CANONICALIZATION + policy — the crawl-side dedup key every
    web pipeline computes before content ever downloads: case-fold the
    host, drop the fragment, strip tracking (utm_*) params, strip the
    /amp variant segment, strip the trailing slash; then the host
    blocklist verdict (deterministic md5-bucket of the source dim
    stands in for the curated list). Narrow projection end to end —
    at 10^12 rows this runs in the scan stage; the canonical key then
    feeds the exact-dedup groupBy."""
    url = synth_url(F.col("doc_id"), F.col("source"))
    base = docs.select("doc_id", "source", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^https://([^/?#]*)", 1))
    path0 = F.regexp_extract("url", r"^https://[^/?#]*([^?#]*)", 1)
    path1 = F.regexp_replace(path0, r"/amp(/|$)", "$1")
    query0 = F.regexp_extract("url", r"\?([^#]*)", 1)
    query1 = F.regexp_replace(query0, r"utm_[^&]*", "")
    query2 = F.regexp_replace(query1, r"^&+|&+$", "")
    parts = base.select(
        "doc_id", "source", "url", host.alias("host"), path1.alias("path1"),
        query2.alias("query2"),
    )
    path = F.when(
        (F.length("path1") > 1) & F.col("path1").endswith("/"),
        F.expr("substring(path1, 1, length(path1) - 1)"),
    ).otherwise(F.col("path1"))
    canon_q = F.when(
        F.col("query2") != "", F.concat(F.lit("?"), F.col("query2"))
    ).otherwise(F.lit(""))
    canon = F.concat(F.lit("https://"), F.col("host"), path, canon_q)
    blocked = hash_bucket(F.col("source"), URL_BLOCK_MOD) == 0
    return parts.select(
        "doc_id",
        "url",
        "host",
        canon.alias("canon_url"),
        (canon != F.col("url")).alias("changed"),
        F.when(blocked, "blocked_host").otherwise(F.lit("ok")).alias("policy"),
    )


def url_dup_groups(docs: DataFrame) -> DataFrame:
    """URL-level dedup — the pre-fetch stage: group the corpus by the
    CANONICAL url (url_canonical), keep the min doc_id per group, and
    report variant multiplicity (how many distinct raw spellings the
    canonical key collapsed). Only groups with >1 doc emit, exactly
    like content-level exact_dup_groups. Hash groupBy on the canonical
    key — map-side combinable, no skew beyond genuine dup mass."""
    c = url_canonical(docs)
    return (
        c.groupBy("canon_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("keep_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def host_stats(docs: DataFrame) -> DataFrame:
    """Per-HOST crawl governance rollup — the table a fetch scheduler
    and a blocklist review both read: doc mass, how much of it is
    URL-level duplicate mass (docs beyond each canonical group's
    keeper), the policy verdict, and corpus share. Composes
    url_canonical + a canonical-key groupBy; hosts are bounded by the
    source dim so the final rollup is tiny."""
    c = url_canonical(docs)
    per_canon = c.groupBy("host", "policy", "canon_url").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    agg = per_canon.groupBy("host", "policy").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum(F.col("n_docs") - 1).cast("long").alias("n_dup_docs"),
    )
    tot = agg.agg(F.sum("n_docs").alias("n_total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "host",
        "policy",
        "n_docs",
        "n_pages",
        "n_dup_docs",
        (F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")
         ).alias("dup_frac"),
        (F.col("n_docs").cast("double") / F.col("n_total").cast("double")
         ).alias("share"),
    )
