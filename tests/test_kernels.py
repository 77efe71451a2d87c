"""JVM kernels (kernels.py): parity with the built-in each one replaces,
lazy per-session registration, and a plan guard against a silent
fallback to the built-in."""

from __future__ import annotations

import random
import re
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import kernels as K
from pdf_ocr_comparison_tool_spark import queries as Q
from pdf_ocr_comparison_tool_spark import sqlgen as G
from pdf_ocr_comparison_tool_spark import synth
from pdf_ocr_comparison_tool_spark.operators import extraction
from tests.conftest import SF_DIR

# code-point pools: ASCII (small, so strings share characters), Latin
# accents, CJK, and astral characters (two UTF-16 units each)
_POOLS = {
    "ascii": "abcdef 0123",
    "latin": "aeéèüöñ ",
    "cjk": "记账凭证金额合同号元 ",
    "astral": "a\U0001F600\U0001F680\U00020000\U0002A6D6 ",
}
_POOLS["mixed"] = "".join(_POOLS.values())
# block edges of the 64-bit words, and the 1000-char cap
_LENGTHS = [0, 1, 2, 7, 63, 64, 65, 127, 128, 129, 1000]


def _pairs(n: int, seed: int) -> list[tuple[str | None, str | None]]:
    rng = random.Random(seed)

    def text(pool: str, length: int) -> str:
        return "".join(rng.choice(pool) for _ in range(length))

    def length() -> int:
        if rng.random() < 0.7:
            return rng.choice(_LENGTHS)
        return rng.randint(0, 200)

    def mutate(s: str, pool: str) -> str:
        cps = list(s)
        for _ in range(rng.randint(0, 12)):
            op, i = rng.randrange(3), rng.randint(0, len(cps))
            if op == 0:
                cps.insert(i, rng.choice(pool))
            elif cps and op == 1:
                del cps[min(i, len(cps) - 1)]
            elif cps:
                cps[min(i, len(cps) - 1)] = rng.choice(pool)
        return "".join(cps)

    out: list[tuple[str | None, str | None]] = [
        (None, "abc"), ("abc", None), (None, None), ("", ""), ("", "记账"),
    ]
    while len(out) < n:
        pool = _POOLS[rng.choice(sorted(_POOLS))]
        a = text(pool, length())
        # half near-duplicates (small distances, shared prefix/suffix),
        # half independent strings
        b = mutate(a, pool) if rng.random() < 0.5 else text(pool, length())
        out.append((a, b))
    return out


def test_kernel_equals_builtin_levenshtein(spark):
    pairs = _pairs(12_000, seed=20260419)
    lengths = {len(s) for p in pairs for s in p if s is not None}
    assert {63, 64, 65, 127, 128, 129, 1000} <= lengths
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.select(
        "a", "b",
        F.levenshtein("a", "b").alias("want"),
        K.levenshtein(spark, F.col("a"), F.col("b")).alias("got"),
    )
    bad = got.filter(~F.col("want").eqNullSafe(F.col("got")))
    assert bad.count() == 0, bad.limit(5).collect()
    assert got.filter(F.col("got").isNull()).count() == 3


def test_register_on_foreign_session_is_idempotent(spark, monkeypatch):
    """A session get_spark did not build gets every kernel of the table
    on first use, also from a thread other than the one that added the
    jar; a second registration neither recompiles nor re-adds the jar."""
    other = spark.newSession()
    assert not any(other.catalog.functionExists(k.name) for k in K.KERNELS)
    K.register(spark)
    worker = ThreadPoolExecutor(1)
    worker.submit(K.register, other).result()
    worker.shutdown()
    assert all(other.catalog.functionExists(k.name) for k in K.KERNELS)
    n_jars = spark.sparkContext._jsc.sc().listJars().size()

    def no_compile(*args):
        raise AssertionError("kernel recompiled")

    monkeypatch.setattr(K, "_jar", no_compile)
    K.register(other)
    assert spark.sparkContext._jsc.sc().listJars().size() == n_jars
    span = "named_struct('kind', 'text', 'text', ' bc  ', 'media_ref', '', 'offset', 1)"
    row = other.sql(
        f"SELECT {K.LEVENSHTEIN}('kitten', 'sitting') AS d,"
        f" {K.LEVENSHTEIN}(NULL, 'x') AS n,"
        f" {K.EXTRACT_SPANS}(array({span}, NULL)) AS e,"
        f" {K.EXTRACT_SPANS_KIND_SET}(array({span}, {span})) AS s,"
        f" {K.EXTRACT_SPANS}(NULL) AS en"
    ).first()
    assert (row["d"], row["n"], row["en"]) == (3, None, None)
    assert [tuple(s) for s in row["e"]] == [("text", "bc", "", 0)]
    assert [tuple(s) for s in row["s"]] == [("text", "bc", "", 0), ("text", "bc", "", 1)]
    assert {k.name for k in K.KERNELS} == {K.LEVENSHTEIN, K.EXTRACT_SPANS, K.EXTRACT_SPANS_KIND_SET}


def test_match_best_scores_with_kernel(spark):
    """J5 of the executed match_best plan calls the kernel and no
    built-in levenshtein is left: a silent fallback fails here."""
    plan = Q.q_match_best(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert f"{K.LEVENSHTEIN}(" in plan
    assert not re.search(r"(?<!\w)levenshtein\(", plan), plan[:4000]


# ------------------------------------------------------------ extraction
# The built-in chain of higher-order functions that extract_spans
# replaced, kept as its parity reference.


def reference_normalize_text(col: Column) -> Column:
    """Strip ``<|...|>`` markers and ``[[x,y,x,y]]`` bbox literals,
    drop debug/short lines, trim, rejoin."""
    stripped = F.regexp_replace(F.regexp_replace(col, G.MARKER_RE, ""), G.BBOX_RE, "")
    lines = F.split(stripped, "\n")
    kept = F.filter(
        lines,
        lambda ln: (F.length(F.trim(ln)) >= 2) & ~F.lower(F.trim(ln)).rlike(G.DEBUG_RE),
    )
    # NB: must be a one-arg lambda — F.transform also offers the element
    # index, and trim(col, trimStr) would interpret it as trim characters.
    return F.array_join(F.transform(kept, lambda ln: F.trim(ln)), "\n")


def reference_extract(spans: Column) -> Column:
    normed = F.transform(
        spans,
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            F.coalesce(s["media_ref"], F.lit("")).alias("media_ref"),
            F.when(s["kind"] == "media", F.lit(""))
            .otherwise(reference_normalize_text(F.coalesce(s["text"], F.lit(""))))
            .alias("text"),
        ),
    )
    kept = F.filter(normed, lambda s: (s["kind"] == "media") | (s["text"] != ""))
    return F.transform(
        F.array_sort(kept),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.alias("order"),
        ),
    )


_SPANS_NULLABLE = (
    "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
# U+FF21 sorts above an astral code point in UTF-16 units, below it in
# code points (and UTF-8 bytes)
_WORDS = [
    "ab", "invoice", "记账凭证", "合同号", "\U0001F600x", "\uFF21", "\U0001F680",
    "\uFF21b", "\U00020000", "Ünïcode", "a\tb", "\u212Aey", "İd",
]
_DEBUG = ["torch.Size([1, 3])", "ATTENTION mask", "Token", "kv cache", "SETTING x",
          "compile", "Warning:", "deprecated", "tensor", "CUDA", "device", "dtype"]


def _debug_variant(rng: random.Random) -> str:
    line = rng.choice(_DEBUG)
    r = rng.random()
    if r < 0.2:
        # the Kelvin sign lowers to 'k': still a debug line
        line = line.replace("k", "\u212A").replace("K", "\u212A")
    elif r < 0.4:
        # 'İ' lowers to 'i' + U+0307: 'settİng' is no longer 'setting'
        line = line.replace("i", "İ").replace("I", "İ")
    return line


def _line(rng: random.Random, clean: bool) -> str:
    r = rng.random()
    if r < 0.15:
        line = _debug_variant(rng)
    elif r < 0.3:
        # short lines: one code point, an astral one, or a trimmed pair
        line = rng.choice(["a", "\U0001F600", "记", " x ", "  ", "", "ab", "\U0001F600\U0001F600"])
    else:
        line = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))
    if rng.random() < 0.2:
        line = rng.choice(["<|ref|>", "<|det|>", "<|"]) + line + rng.choice(["<|/ref|>", "|>", ""])
    if rng.random() < 0.15:
        line += rng.choice(["[[12, 34, 56, 78]]", "[[1,2]]", "[[x]]", "[["])
    if rng.random() < 0.2:
        line = " " * rng.randint(1, 2) + line + " " * rng.randint(0, 2)
    if clean:
        # pandas_oracle strips every whitespace, Spark's trim only ' '
        line = line.replace("\t", " ")
    return line


def _span(rng: random.Random, clean: bool):
    offset = rng.randint(0, 4)  # duplicate offsets in most docs
    if rng.random() < 0.3:
        return {"kind": "media", "text": "", "offset": offset,
                "media_ref": rng.choice(["m://1/\uFF21", "m://1/\U0001F600", "m://1/a", ""])}
    text = "\n".join(_line(rng, clean) for _ in range(rng.randint(1, 3)))
    span = {"kind": "text", "text": text, "media_ref": "", "offset": offset}
    if not clean:
        r = rng.random()
        if r < 0.1:
            span["text"] = None
        elif r < 0.2:
            span["media_ref"] = rng.choice([None, "m://x"])
        elif r < 0.3:
            span["kind"] = rng.choice([None, "table"])
        elif r < 0.4:
            span["offset"] = None
    return span


def _random_docs(n: int, seed: int) -> tuple[list, list]:
    """(clean, dirty) docs: clean ones are inside pandas_oracle's domain
    (no NULLs, kinds text/media, no tabs); dirty ones add NULL arrays,
    elements and fields, other kinds and text spans with a media_ref."""
    rng = random.Random(seed)
    clean, dirty = [], []
    for doc_id in range(n):
        is_clean = doc_id % 2 == 0
        spans = [_span(rng, is_clean) for _ in range(rng.randint(0, 8))]
        if is_clean:
            clean.append((doc_id, spans))
        elif rng.random() < 0.05:
            dirty.append((doc_id, None))
        else:
            if spans and rng.random() < 0.2:
                spans.insert(rng.randrange(len(spans)), None)
            dirty.append((doc_id, spans))
    return clean, dirty


def test_extract_spans_equals_builtin_chain_and_oracle(spark):
    clean, dirty = _random_docs(12_000, seed=20261019)
    texts = [s["text"] or "" for _, spans in clean + dirty for s in spans or [] if s]
    for needle in ("\u212A", "İ", "\U0001F600", "记", "<|", "[[1,2]]", "torch.Size"):
        assert any(needle in t for t in texts), needle
    assert any(spans is None for _, spans in dirty)

    nullable = spark.createDataFrame(clean + dirty, _SPANS_NULLABLE)
    strict = spark.createDataFrame(clean, synth.DOCUMENTS_SCHEMA)
    for df in (nullable, strict):
        got = extraction.extract_ordered_spans(df)
        want = df.withColumn("spans", reference_extract(F.col("spans")))
        assert got.schema["spans"].dataType == want.schema["spans"].dataType
        both = got.alias("g").join(want.alias("w"), "doc_id")
        bad = both.filter(~F.col("g.spans").eqNullSafe(F.col("w.spans")))
        assert bad.count() == 0, bad.limit(3).collect()
        assert both.count() == df.count()

    got = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extraction.extract_ordered_spans(strict).collect()
    }
    oracle = extraction.pandas_oracle(
        pd.DataFrame({"doc_id": [d for d, _ in clean], "spans": [s for _, s in clean]})
    )
    assert len(oracle) == len(got) == 6_000
    for doc_id, spans in oracle:
        assert got[doc_id] == spans, doc_id


def test_debug_literals_are_sqlgen_debug_re():
    """ExtractSpans.java tests DEBUG_RE as its literal alternatives and
    runs MARKER_RE and BBOX_RE: the Java constants are sqlgen's."""
    src = (K._SOURCES / "ExtractSpans.java").read_text(encoding="utf-8")
    block = re.search(r"DEBUG = \{(.*?)\};", src, re.S).group(1)
    literals = re.findall(r'"([^"]*)"', block)
    assert literals == [alt.replace("\\.", ".") for alt in G.DEBUG_RE.split("|")]
    java = lambda rx: '"' + rx.replace("\\", "\\\\") + '"'  # noqa: E731
    assert f"Pattern.compile({java(G.MARKER_RE)})" in src
    assert f"Pattern.compile({java(G.BBOX_RE)})" in src


def test_extraction_plan_calls_kernel(spark):
    """extract_ordered_spans' executed plan calls the kernel, with the
    return type that keeps the input's kind nullability, and holds no
    lambda: a silent fallback to the built-in chain fails here. (The
    repartition keeps the optimizer from folding the call into the
    local input.)"""
    nullable = spark.createDataFrame([(1, [("text", "ab", "", 1)])], _SPANS_NULLABLE)
    strict = spark.createDataFrame(
        synth.fixture_docs_pandas(n_docs=20, seed=5), schema=synth.FIXTURE_SCHEMA
    )
    for df, name in ((nullable, K.EXTRACT_SPANS), (strict, K.EXTRACT_SPANS_KIND_SET)):
        plan = extraction.extract_ordered_spans(df.repartition(2))._jdf.queryExecution() \
            .executedPlan().toString()
        assert f"{name}(" in plan, plan[:4000]
        assert "lambdafunction" not in plan, plan[:4000]
