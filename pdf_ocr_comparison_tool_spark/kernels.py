"""JVM kernels: hot per-row functions compiled into the engine's runtime.

A kernel is a Java class whose source sits next to this module, and a
row of :data:`KERNELS`: (SQL name, class, return type). On first use in
a session Janino (the compiler Spark's own codegen uses) compiles every
kernel source in one call inside the driver JVM, into one jar keyed by
a hash of all the sources. The session adds that jar with one ``ADD
JAR`` and registers every row as a SQL function. A kernel then runs in
the task thread, with no Python worker and no dependency beyond Spark's
own jars, and no binary is kept in the source tree.

Registration is per session and lazy: every plan that calls a kernel
goes through :func:`register`, which returns at once when the session
already has the functions. So any ``SparkSession`` works, including one
that ``session.get_spark`` did not build.

Kernels:

* ``levenshtein_bitpar(a, b)`` (:func:`levenshtein`) —
  ``BitParallelLevenshtein.java``: Myers' bit-parallel edit distance in
  Hyyrö's multi-block form, equal to Spark's code-point
  ``levenshtein(a, b)`` (NULL in, NULL out) at O(⌈m/64⌉·n) word
  operations instead of the built-in's O(m·n) DP cells.
* ``extract_spans(spans)`` (:func:`extract_spans`) —
  ``ExtractSpans.java``: the extraction core of
  ``operators/extraction.py`` (normalize each span, drop empty text
  spans, sort by ``(offset, kind, media_ref, text)``, reindex
  ``order``), equal to the built-in chain of higher-order functions it
  replaces. Spark evaluates those lambdas interpreted, outside
  whole-stage codegen; the kernel also skips the marker and bbox
  regexes on text without their opening literal and tests the debug
  pattern as plain substring searches. It is registered twice, under
  two return types that differ only in whether ``kind`` may be NULL, so
  the output keeps the input's ``kind`` nullability as the built-in
  chain did (a non-null ``kind`` stays ``required`` in parquet).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PACKAGE = "pdf_ocr_comparison_tool_spark.kernels"
_SOURCES = Path(__file__).parent


class Kernel(NamedTuple):
    name: str  # the SQL function name
    cls: str  # the class, in ``<cls>.java`` beside this module
    returns: T.DataType


def _spans_out(kind_nullable: bool) -> T.ArrayType:
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("kind", T.StringType(), kind_nullable),
                T.StructField("text", T.StringType(), False),
                T.StructField("media_ref", T.StringType(), False),
                T.StructField("order", T.IntegerType(), False),
            ]
        ),
        containsNull=False,
    )


LEVENSHTEIN = "levenshtein_bitpar"
EXTRACT_SPANS = "extract_spans"
EXTRACT_SPANS_KIND_SET = "extract_spans_kind_set"

KERNELS = (
    Kernel(LEVENSHTEIN, "BitParallelLevenshtein", T.IntegerType()),
    Kernel(EXTRACT_SPANS, "ExtractSpans", _spans_out(kind_nullable=True)),
    Kernel(EXTRACT_SPANS_KIND_SET, "ExtractSpans", _spans_out(kind_nullable=False)),
)


def levenshtein(spark: SparkSession, a, b) -> Column:
    """Spark's ``levenshtein(a, b)``, computed by the bit-parallel kernel
    registered on ``spark`` (the session whose plan reads the column)."""
    register(spark)
    return F.call_function(LEVENSHTEIN, a, b)


def extract_spans(spark: SparkSession, spans: Column, spans_type: T.ArrayType) -> Column:
    """The extraction kernel over ``spans`` (of type ``spans_type``),
    registered on ``spark``; ``kind`` is nullable in the result exactly
    when the input's ``kind`` (or a span itself) can be NULL."""
    register(spark)
    kind_nullable = spans_type.containsNull or spans_type.elementType["kind"].nullable
    return F.call_function(
        EXTRACT_SPANS if kind_nullable else EXTRACT_SPANS_KIND_SET, spans
    )


def register(spark: SparkSession) -> None:
    """Make every kernel callable in ``spark``; a no-op once it is."""
    if all(spark.catalog.functionExists(k.name) for k in KERNELS):
        return
    sources = {
        k.cls: (_SOURCES / f"{k.cls}.java").read_text(encoding="utf-8")
        for k in KERNELS
    }
    jar = _jar(spark, sources)
    added = spark.sparkContext._jsc.sc().listJars()
    if not any(
        added.apply(i).endswith("/" + jar.name) for i in range(added.size())
    ):
        spark.sql(f"ADD JAR '{jar}'")
    # the jar loader ADD JAR extends is shared by every session of the
    # context; the calling thread's context loader sees it only if this
    # thread ran the ADD JAR
    jss = spark._jsparkSession
    loader = jss.sharedState().jarClassLoader()
    for k in KERNELS:
        jss.udf().register(
            k.name,
            loader.loadClass(f"{_PACKAGE}.{k.cls}").newInstance(),
            jss.parseDataType(k.returns.json()),
        )


def _jar(spark: SparkSession, sources: dict[str, str]) -> Path:
    """The kernel jar for ``sources`` (class name → Java source), all
    compiled in one Janino call on first use in this temp directory and
    published by atomic rename, so concurrent sessions never read a
    partial jar."""
    digest = hashlib.sha256()
    for cls, source in sorted(sources.items()):
        digest.update(f"{cls}\0{source}\0".encode("utf-8"))
    jar = Path(tempfile.gettempdir()) / f"spark-extract-kernels-{digest.hexdigest()[:16]}.jar"
    if jar.exists():
        return jar
    jvm = spark.sparkContext._jvm
    res = jvm.org.codehaus.commons.compiler.util.resource
    units = spark.sparkContext._gateway.new_array(res.Resource, len(sources))
    for i, (cls, source) in enumerate(sorted(sources.items())):
        units[i] = res.StringResource(f"{cls}.java", source)
    classes = res.MapResourceCreator()
    compiler = jvm.org.codehaus.janino.Compiler()
    compiler.setIClassLoader(
        jvm.org.codehaus.janino.ClassLoaderIClassLoader(
            spark._jsparkSession.sharedState().jarClassLoader()
        )
    )
    compiler.setClassFileCreator(classes)
    compiler.compile(units)
    bytecodes = classes.getMap()
    fd, tmp = tempfile.mkstemp(dir=jar.parent, suffix=".jar.tmp")
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for name in sorted(bytecodes.keySet()):
                zf.writestr(name, bytecodes.get(name))
        os.replace(tmp, jar)
    except BaseException:
        os.unlink(tmp)
        raise
    return jar
