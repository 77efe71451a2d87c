"""JVM kernels (kernels.py): parity with the built-in each one replaces,
lazy per-session registration, and a plan guard against a silent
fallback to the built-in."""

from __future__ import annotations

import random
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import kernels as K
from pdf_ocr_comparison_tool_spark import queries as Q
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
    """A session get_spark did not build gets the kernel on first use,
    also from a thread other than the one that added the jar; a second
    registration neither recompiles nor re-adds the jar."""
    other = spark.newSession()
    assert not other.catalog.functionExists(K.LEVENSHTEIN)
    K.register(spark)
    worker = ThreadPoolExecutor(1)
    worker.submit(K.register, other).result()
    worker.shutdown()
    assert other.catalog.functionExists(K.LEVENSHTEIN)
    n_jars = spark.sparkContext._jsc.sc().listJars().size()

    def no_compile(*args):
        raise AssertionError("kernel recompiled")

    monkeypatch.setattr(K, "_jar", no_compile)
    K.register(other)
    assert spark.sparkContext._jsc.sc().listJars().size() == n_jars
    row = other.sql(
        f"SELECT {K.LEVENSHTEIN}('kitten', 'sitting') AS d,"
        f" {K.LEVENSHTEIN}(NULL, 'x') AS n"
    ).first()
    assert (row["d"], row["n"]) == (3, None)


def test_match_best_scores_with_kernel(spark):
    """J5 of the executed match_best plan calls the kernel and no
    built-in levenshtein is left: a silent fallback fails here."""
    plan = Q.q_match_best(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert f"{K.LEVENSHTEIN}(" in plan
    assert not re.search(r"(?<!\w)levenshtein\(", plan), plan[:4000]
