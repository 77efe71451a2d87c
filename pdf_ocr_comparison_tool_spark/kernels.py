"""JVM kernels: hot per-row functions compiled into the engine's runtime.

A kernel is a Java class whose source sits next to this module. On its
first use in a session it is compiled inside the driver JVM by Janino
(the compiler Spark's own codegen uses), packed into a jar keyed by a
hash of its source, added to the session with ``ADD JAR`` and
registered as one SQL function. The kernel then runs in the task
thread, with no Python worker and no dependency beyond Spark's own
jars, and no binary is kept in the source tree.

Registration is per session and lazy: every plan that calls a kernel
goes through :func:`register`, which returns at once when the session
already has the function. So any ``SparkSession`` works, including one
that ``session.get_spark`` did not build.

Kernels:

* ``levenshtein_bitpar(a, b)`` (:func:`levenshtein`) —
  ``BitParallelLevenshtein.java``: Myers' bit-parallel edit distance in
  Hyyrö's multi-block form, equal to Spark's code-point
  ``levenshtein(a, b)`` (NULL in, NULL out) at O(⌈m/64⌉·n) word
  operations instead of the built-in's O(m·n) DP cells.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

LEVENSHTEIN = "levenshtein_bitpar"
_CLASS = "pdf_ocr_comparison_tool_spark.kernels.BitParallelLevenshtein"
_SOURCE = Path(__file__).with_name("BitParallelLevenshtein.java")


def levenshtein(spark: SparkSession, a, b) -> Column:
    """Spark's ``levenshtein(a, b)``, computed by the bit-parallel kernel
    registered on ``spark`` (the session whose plan reads the column)."""
    register(spark)
    return F.call_function(LEVENSHTEIN, a, b)


def register(spark: SparkSession) -> None:
    """Make the kernel callable in ``spark``; a no-op once it is."""
    if spark.catalog.functionExists(LEVENSHTEIN):
        return
    jvm = spark.sparkContext._jvm
    jar = _jar(spark, _SOURCE.read_text(encoding="utf-8"))
    added = spark.sparkContext._jsc.sc().listJars()
    if not any(
        added.apply(i).endswith("/" + jar.name) for i in range(added.size())
    ):
        spark.sql(f"ADD JAR '{jar}'")
    # the jar loader ADD JAR extends is shared by every session of the
    # context; the calling thread's context loader sees it only if this
    # thread ran the ADD JAR
    loader = spark._jsparkSession.sharedState().jarClassLoader()
    kernel = loader.loadClass(_CLASS).newInstance()
    spark._jsparkSession.udf().register(
        LEVENSHTEIN, kernel, jvm.org.apache.spark.sql.types.DataTypes.IntegerType
    )


def _jar(spark: SparkSession, source: str) -> Path:
    """The kernel jar for ``source``, compiled on first use in this
    temp directory and published by atomic rename, so concurrent
    sessions never read a partial jar."""
    digest = hashlib.sha256(source.encode("utf-8")).hexdigest()[:16]
    jar = Path(tempfile.gettempdir()) / f"spark-extract-kernels-{digest}.jar"
    if jar.exists():
        return jar
    jvm = spark.sparkContext._jvm
    compiler = jvm.org.codehaus.janino.SimpleCompiler()
    compiler.setParentClassLoader(
        spark._jsparkSession.sharedState().jarClassLoader()
    )
    compiler.cook(source)
    classes = compiler.getBytecodes()
    fd, tmp = tempfile.mkstemp(dir=jar.parent, suffix=".jar.tmp")
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for name in sorted(classes.keySet()):
                zf.writestr(name.replace(".", "/") + ".class", classes.get(name))
        os.replace(tmp, jar)
    except BaseException:
        os.unlink(tmp)
        raise
    return jar
