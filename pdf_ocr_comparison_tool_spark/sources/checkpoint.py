"""Checkpoint, lineage and exactly-once resume (SURVEY §2.1 S8-S10,
§2.3 J12/J13, §4 O5/O6).

The reference implements incremental recompute with a JSON OCR cache
keyed on file identity (ocr_cache.py:50-143) and a processed-file
manifest with a set-difference resume (batch_processor.py:103-153 — a
Python anti-join). The Spark-native equivalent:

* output is written in **deterministic content-keyed partitions**
  (``part = md5(doc_id) % n``) — partition membership is a pure function
  of the data, never of cluster topology, so a re-run assigns every doc
  to the same part;
* the lineage table is the checkpoint **manifest**: one row per
  committed part (part, doc/span counts, wall ms, run id), appended as
  one file per commit after the part's data;
* a run reads the manifest ONCE (at most ``n_parts`` rows) and the
  manifest alone decides what it writes: if every part id is committed
  it stops before building or reading its input; otherwise it commits
  the transformed frame filtered to the parts NOT in the manifest in
  one write — one data file per part, the batch being whatever parts
  the data holds — and then appends the lineage rows, built in the JVM
  from stats read back from the files just written (no Python rows, so
  a commit starts no Python worker). A part whose docs all transform
  away writes nothing and is never committed, so it is never selected
  either.

Parts are atomic: the lineage append is the commit point, and a run
killed between the data write and the append leaves data without
lineage, which the next run recomputes and dynamic overwrite replaces
per part directory — re-running yields exactly-once output.

On Iceberg this maps 1:1 to snapshot commits; the parquet-directory
implementation below keeps the same contract for the sandbox.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import scope

LINEAGE_SCHEMA = (
    "part int, n_parts int, n_docs long, n_spans long, wall_ms long, run_id string"
)


def part_col(doc_id_col, n_parts: int) -> "F.Column":
    """Deterministic content-keyed partition id (stable across runs,
    engines and cluster sizes — unlike Spark's task partition ids)."""
    from ..operators.features import hash_bucket

    return hash_bucket(doc_id_col, n_parts).cast("int")


def committed_parts(spark: SparkSession, out_dir: str) -> DataFrame:
    """The checkpoint manifest: ONE authoritative lineage row per part.

    Run fencing: two racing (or zombie) writers can both read the
    manifest before either commits and double-append lineage rows for
    the same part. The DATA stays byte-identical — every transform is
    deterministic and the dynamic partition overwrite replaces the same
    directory — so the race is resolved at read-back: deduplicate by
    part with deterministic precedence (lowest run_id wins; wall_ms
    breaks a same-run tie). Every manifest consumer (resume, stats,
    n_parts adoption) goes through here, so a duplicated append can
    never double-count. The lineage is read with its fixed schema: no
    inference job, and a directory holding no committed file yet (a run
    killed inside its first append leaves only ``_temporary/``) reads
    as empty. A missing manifest is a typed zero-row range, so it too
    stays in the JVM."""
    path = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(path):
        cols = (c.split() for c in LINEAGE_SCHEMA.split(","))
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in cols]
        )
    from pyspark.sql import Window

    w = Window.partitionBy("part").orderBy("run_id", "wall_ms")
    return (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(path)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def remaining_parts(
    all_parts: DataFrame, lineage: DataFrame
) -> DataFrame:
    """J12: anti-join the committed manifest out of the input parts."""
    return all_parts.join(lineage.select("part"), "part", "left_anti")


def read_manifest(
    spark: SparkSession, out_dir: str, n_parts: int
) -> tuple[int, list[int]]:
    """``(n_parts, committed part ids)`` from ONE collect of the
    manifest. Resume safety: the partition count is part of the
    checkpoint identity — a different n_parts would re-key every doc
    and double-write — so the committed run's n_parts is adopted."""
    rows = committed_parts(spark, out_dir).select("part", "n_parts").collect()
    return (rows[0]["n_parts"] if rows else n_parts), [r["part"] for r in rows]


def commit_transformed_parts(
    spark: SparkSession,
    transformed: DataFrame,
    committed: list[int],
    out_dir: str,
    run_id: str,
    n_parts: int,
    fail_after_parts: int | None = None,
) -> int:
    """Commit an already-transformed, part-keyed frame: every part NOT
    in ``committed`` (the manifest the caller read) is written in ONE
    write (dynamic partition overwrite), then its lineage rows are
    appended as the commit point. Returns the number of parts
    committed, counted by an Observation on the lineage write.

    The batch is the data itself — the parts the filtered frame holds —
    so no part is ever selected and yet empty. Layout: the frame is
    hash-partitioned on ``part`` before the write, so each
    ``data/part=*`` directory holds exactly ONE parquet file, and the
    commit appends exactly one lineage file, or none when the write
    produced no rows. The lineage rows are per-part stats read back
    from the files just written (no second execution of the transform,
    no Python rows); ``wall_ms`` is the data write's wall for each of
    its parts.

    ``fail_after_parts=k`` simulates a kill between the data write and
    the lineage append: every remaining part's data is written, lineage
    is appended for the lowest ``k`` parts written, and it raises.

    Shared by the extraction job (whose narrow transform commutes with
    the part filter) and the corpus job (whose dedup verdict is GLOBAL —
    it transforms the full corpus and only then filters, or a resumed
    run would compute cluster keeps against a partial corpus and
    disagree with the original run)."""
    from pyspark.sql import Observation

    todo = transformed.filter(~F.col("part").isin(committed))
    wrote, counted = Observation(), Observation()
    t0 = time.perf_counter()
    data_path = os.path.join(out_dir, "data")
    (
        todo.observe(wrote, F.count(F.lit(1)).alias("rows"))
        .repartition("part")  # one writer task, so one file, per part
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(data_path)
    )
    wall_ms = int((time.perf_counter() - t0) * 1000)
    n = 0
    if wrote.get["rows"]:
        written = (
            spark.read.schema(todo.schema)
            .parquet(data_path)
            .filter(~F.col("part").isin(committed))
        )
        n_spans = (
            F.sum(F.size("spans")) if "spans" in written.columns else F.lit(0)
        )
        lineage = written.groupBy("part").agg(
            F.lit(n_parts).cast("int").alias("n_parts"),
            F.count("*").cast("long").alias("n_docs"),
            n_spans.cast("long").alias("n_spans"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit(run_id).alias("run_id"),
        )
        if fail_after_parts is not None:
            lineage = lineage.orderBy("part").limit(fail_after_parts)
        (
            lineage.observe(counted, F.count(F.lit(1)).alias("parts"))
            .coalesce(1)  # one lineage file per commit
            .write.mode("append")
            .parquet(os.path.join(out_dir, "_lineage"))
        )
        n = counted.get["parts"]
    if fail_after_parts is not None:
        raise RuntimeError(f"simulated failure after {n} parts")
    return n


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    n_parts: int = 8,
    fail_after_parts: int | None = None,
) -> int:
    """Resumable extraction job, driven by its manifest: a fully
    committed directory returns 0 without reading ``docs``; otherwise
    the parts the manifest lacks are extracted and committed in one
    write (``commit_transformed_parts``, whose ``fail_after_parts``
    simulates a kill between data write and lineage append). Returns
    the number of parts committed in this run.
    """
    from ..operators.extraction import extract_ordered_spans

    n_parts, committed = read_manifest(spark, out_dir, n_parts)
    if set(range(n_parts)) <= set(committed):
        return 0
    out = extract_ordered_spans(
        docs.withColumn("part", part_col(F.col("doc_id"), n_parts))
    )
    return commit_transformed_parts(
        spark, out, committed, out_dir, run_id, n_parts, fail_after_parts
    )


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))


def run_corpus_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    n_parts: int = 8,
    fail_after_parts: int | None = None,
    quality_model: DataFrame | None = None,
    decontaminate: bool = False,
) -> int:
    """Resumable corpus-build job: admission verdict (exact dedup →
    near-dup cluster keep → length/quality/repetition) + deterministic
    split over the FULL corpus, committed per content-keyed part and
    driven by the manifest — the LLM-ingest twin of run_extraction_job.
    A fully committed directory returns 0 before the verdict is built.

    Otherwise the verdict runs ONCE, over the whole input (never just
    the remaining parts): a doc's near-dup keep depends on OTHER docs,
    so a partial-corpus verdict would disagree with the original run
    after a crash. Recomputation is safe because every stage is
    deterministic; only the WRITES are incremental. Output rows:
    (doc_id, source, text, split, part) for admitted docs only.
    ``quality_model`` (opt-in) adds the trained linear-scorer stage to
    the verdict (pipeline.corpus_filter) — resume-safe because the
    model dim is a deterministic input like the corpus itself.
    ``decontaminate`` (opt-in) adds the benchmark eval-overlap stage,
    equally deterministic and so equally resume-safe.
    """
    from ..operators.pipeline import corpus_filter, data_split

    n_parts, committed = read_manifest(spark, out_dir, n_parts)
    if set(range(n_parts)) <= set(committed):
        return 0
    # the scope releases the verdict's checkpoints even on the
    # simulated-kill path — a resume loop in one long-lived session
    # must not accumulate blocks across invocations
    with scope():
        verdict = (
            corpus_filter(
                docs, quality_model=quality_model, decontaminate=decontaminate
            )
            .filter(F.col("keep"))
            .select("doc_id")
        )
        admitted = (
            docs.select("doc_id", "source", "text")
            .join(verdict, "doc_id")
            .join(data_split(docs).select("doc_id", "split"), "doc_id")
            .withColumn("part", part_col(F.col("doc_id"), n_parts))
        )
        return commit_transformed_parts(
            spark, admitted, committed, out_dir, run_id, n_parts,
            fail_after_parts,
        )


def publish_training_shards(
    spark: SparkSession, out_dir: str, final_dir: str
) -> DataFrame:
    """Stage 2 of the corpus build: re-lay the committed (part-keyed)
    corpus into sampler-facing split/source shard partitions via the
    training sink, returning the read-back manifest. Pure layout — runs
    only after every part is committed."""
    from .training_sink import shard_manifest, write_training_shards

    data = read_output(spark, out_dir).drop("part")
    write_training_shards(data, final_dir)
    return shard_manifest(spark, final_dir)


# ------------------------------------------------------- oracle fixture
# S8-S10 driver-oracle support: a deterministic PARTIALLY-committed
# checkpoint directory (the real commit path, killed mid-job), cached
# per (sf_dir, spec) so the manifest queries are repeatable.
CKPT_FIXTURE_N_PARTS = 8
CKPT_FIXTURE_COMMIT = 6  # parts committed before the simulated kill
_CKPT_FIXTURE_VERSION = 3  # 3: kill between data write and lineage append


def ensure_partial_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and return a checkpoint output dir where the REAL
    extraction job wrote all CKPT_FIXTURE_N_PARTS content-keyed parts,
    appended lineage for the lowest CKPT_FIXTURE_COMMIT of them and was
    then killed (``fail_after_parts``) — the state the resume / manifest
    surface exists for. Deterministic: parts are hash_bucket(doc_id)
    keyed, so the committed set is a pure function of the input table. Built atomically (tmp dir +
    rename) so concurrent builders can't interleave."""
    import hashlib
    import shutil
    import tempfile

    from .. import synth

    # the key carries the input's CONTENT IDENTITY (size + mtime), not
    # just its path: driver testdata regenerates between rounds at the
    # same path, and a stale partially-committed fixture would make the
    # manifest query disagree with the oracle's recount of the NEW table
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        ident = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        ident = "missing"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{ident}|{CKPT_FIXTURE_N_PARTS}|"
        f"{CKPT_FIXTURE_COMMIT}|v{_CKPT_FIXTURE_VERSION}".encode()
    ).hexdigest()[:16]
    target = os.path.join(tempfile.gettempdir(), f"ckpt_fixture_{key}")
    if os.path.isdir(os.path.join(target, "_lineage")):
        return target
    build = tempfile.mkdtemp(prefix=f"ckpt_fixture_{key}_build_")
    try:
        run_extraction_job(
            spark,
            synth.spans_df(spark, sf_dir),
            build,
            run_id="fixture0",
            n_parts=CKPT_FIXTURE_N_PARTS,
            fail_after_parts=CKPT_FIXTURE_COMMIT,
        )
    except RuntimeError:
        pass  # the simulated mid-job kill
    try:
        os.rename(build, target)
    except OSError:
        shutil.rmtree(build, ignore_errors=True)  # concurrent build won
    # GC superseded fixtures: content keying mints a new dir whenever
    # the input regenerates, so old keys accumulate on long-lived
    # hosts — drop siblings untouched for a day (a concurrent reader
    # of a fixture that old is not a real scenario here)
    import time as _time

    cutoff = _time.time() - 86400
    root = tempfile.gettempdir()
    for name in os.listdir(root):
        if not name.startswith("ckpt_fixture_") or name in target:
            continue
        path = os.path.join(root, name)
        try:
            if os.path.isdir(path) and os.stat(path).st_mtime < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass
    return target


COMPACT_TARGET_SPANS = 600  # rows per compacted output file (spec
#                             constant shared with the oracle)


def compaction_plan(parts: DataFrame) -> DataFrame:
    """Small-file compaction planner — the table-maintenance pass every
    long-lived checkpointed table needs (Iceberg ``rewriteDataFiles``
    bin-pack semantics, public): committed parts are packed IN PART
    ORDER into output groups of ~``COMPACT_TARGET_SPANS`` rows each
    (counted in the ``n_spans`` column), group id = exclusive-prefix-sum
    DIV COMPACT_TARGET_SPANS. Pure integer arithmetic, so the
    plan is deterministic across runs and engines.

    Scale note: the input is the parts MANIFEST (one row per data
    file) — metadata-scale by construction (≤ ~10⁶ rows even at 10¹²
    docs), so the single ordered window IS the right plan: it is the
    same centralized planning step Iceberg's own rewrite planner runs
    on the driver; the data files themselves never move here. Emits
    (part, n, bin_id, bin_parts, bin_rows)."""
    from pyspark.sql import Window

    p = parts.select(
        F.col("part").cast("long").alias("part"),
        F.col("n_spans").cast("long").alias("n"),
    )
    w = Window.orderBy("part").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    binned = p.withColumn("_cum", cum).select(
        "part",
        "n",
        F.expr(f"_cum DIV {COMPACT_TARGET_SPANS}").cast("long").alias("bin_id"),
    )
    stats = binned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("bin_parts"),
        F.sum("n").cast("long").alias("bin_rows"),
    )
    return binned.join(stats, "bin_id").select(
        "part", "n", "bin_id", "bin_parts", "bin_rows"
    )
