"""Similarity functions (SURVEY §2.7 T9-T12).

The reference dispatches cosine / jaccard / levenshtein
(content_matcher.py:251-269, default cosine per config.yaml:154):

* **levenshtein** — runs in the JVM, never in Python: the bit-parallel
  kernel (`kernels.levenshtein`, compiled in-session by Spark's Janino)
  returns exactly the built-in `levenshtein` (§matching);
* **jaccard** — token-set ∩/∪, also native (`array_intersect` /
  `array_union` over pre-tokenized arrays);
* **cosine** — TF-vector dot product over tokens. Token frequency
  vectors have no clean native form, so this is the one place the
  engine uses the documented slow path: a **vectorized pandas UDF**
  (Arrow batches, no per-row Python in Spark's loop).

Tokenization is the deterministic bigram fallback SURVEY §7.1/M3
prescribes: ASCII word tokens + CJK character bigrams — jieba's
dictionary versions would make fixtures environment-dependent.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ASCII_TOKEN = re.compile(r"[a-z0-9]+")
_CJK = re.compile(r"[一-鿿]")


def tokenize_py(text: str) -> list[str]:
    """Deterministic tokenizer: lowercase ASCII word tokens + CJK char
    bigrams (single CJK char docs yield the char itself)."""
    if not text:
        return []
    text = text.lower()
    toks = _ASCII_TOKEN.findall(text)
    cjk_runs = re.findall(r"[一-鿿]+", text)
    for run in cjk_runs:
        if len(run) == 1:
            toks.append(run)
        else:
            toks.extend(run[i : i + 2] for i in range(len(run) - 1))
    return toks


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    return texts.map(tokenize_py)


def cosine_py(t1: str, t2: str) -> float:
    """Reference cosine semantics (content_matcher.py:54-93): TF vectors
    over tokens, 0.0 if either norm is zero."""
    c1, c2 = Counter(tokenize_py(t1)), Counter(tokenize_py(t2))
    if not c1 or not c2:
        return 0.0
    dot = sum(c1[t] * c2[t] for t in c1.keys() & c2.keys())
    n1 = math.sqrt(sum(v * v for v in c1.values()))
    n2 = math.sqrt(sum(v * v for v in c2.values()))
    if n1 == 0.0 or n2 == 0.0:
        return 0.0
    return dot / (n1 * n2)


@F.pandas_udf(T.DoubleType())
def cosine_udf(t1: pd.Series, t2: pd.Series) -> pd.Series:
    return pd.Series([cosine_py(a, b) for a, b in zip(t1, t2)], dtype="float64")


def jaccard_py(t1: str, t2: str) -> float:
    s1, s2 = set(tokenize_py(t1)), set(tokenize_py(t2))
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    return len(s1 & s2) / len(s1 | s2)


def jaccard_native(tok1: Column, tok2: Column) -> Column:
    """T10 natively over pre-tokenized distinct arrays."""
    inter = F.size(F.array_intersect(tok1, tok2))
    union = F.size(F.array_union(tok1, tok2))
    return (
        F.when((F.size(tok1) == 0) & (F.size(tok2) == 0), F.lit(1.0))
        .when((F.size(tok1) == 0) | (F.size(tok2) == 0), F.lit(0.0))
        .otherwise(inter.cast("double") / union.cast("double"))
    )


def similarity(
    spark: SparkSession, t1: Column, t2: Column, algorithm: str = "cosine"
) -> Column:
    """T12 dispatch (unknown algorithm → cosine, matching the
    reference's fallback). ``spark`` is the session whose plan reads the
    column: the levenshtein branch registers its kernel there."""
    from ..operators.matching import _sim_expr

    if algorithm == "levenshtein":
        return _sim_expr(spark, t1, t2)
    if algorithm == "jaccard":
        return jaccard_native(
            F.array_distinct(tokenize_udf(t1)), F.array_distinct(tokenize_udf(t2))
        )
    return cosine_udf(t1, t2)
