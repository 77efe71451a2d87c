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
* each completed part commits **one data file** (the batch is
  hash-partitioned on ``part`` before the partitioned write, so exactly
  one task writes each part) together with a **lineage row** (part,
  doc/span counts, wall ms, run id) — the lineage table is the
  checkpoint manifest, one file per commit, built in the JVM as a join
  of the batch's part ids onto stats read back from the committed
  files (no Python rows, so a commit starts no Python worker);
* resume = ``left_anti`` join of the input's parts against committed
  lineage parts, then process only the remainder. Parts are atomic:
  a killed run leaves either (data+lineage) or nothing for each part,
  so re-running yields exactly-once output.

On Iceberg this maps 1:1 to snapshot commits; the parquet-directory
implementation below keeps the same contract for the sandbox.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

    Run fencing: two racing (or zombie) writers can both pass the
    anti-join before either commits and double-append lineage rows for
    the same part. The DATA stays byte-identical — every transform is
    deterministic and the dynamic partition overwrite replaces the same
    directory — so the race is resolved at read-back: deduplicate by
    part with deterministic precedence (lowest run_id wins; wall_ms
    breaks a same-run tie). Every manifest consumer (resume anti-join,
    stats, n_parts adoption) goes through here, so a duplicated append
    can never double-count. The empty manifest is a typed zero-row
    range, so it too stays in the JVM."""
    path = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(path) or not os.listdir(path):
        cols = (c.split() for c in LINEAGE_SCHEMA.split(","))
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in cols]
        )
    from pyspark.sql import Window

    w = Window.partitionBy("part").orderBy("run_id", "wall_ms")
    return (
        spark.read.parquet(path)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def remaining_parts(
    all_parts: DataFrame, lineage: DataFrame
) -> DataFrame:
    """J12: anti-join the committed manifest out of the input parts."""
    return all_parts.join(lineage.select("part"), "part", "left_anti")


def write_parts_batch(
    spark: SparkSession,
    with_part: DataFrame,
    parts: list[int],
    out_dir: str,
    run_id: str,
    n_parts: int,
) -> None:
    """Commit a BATCH of parts in ONE Spark job (dynamic partition
    overwrite), then append their lineage rows as the commit point.

    One job for all remaining parts instead of one job per part — at
    n_parts ≈ 10⁴ the per-job driver serialization dominates wall time
    (round-1 verdict); batching keeps exactly-once semantics because a
    killed run leaves data files WITHOUT lineage rows, and the next run
    recomputes those parts and dynamic-overwrite replaces them
    atomically per partition directory.

    Layout: the batch is hash-partitioned on ``part`` before the write,
    so each ``data/part=*`` directory holds exactly ONE parquet file
    (not one per task × part), and the commit appends exactly one
    lineage file. The lineage rows are built in the JVM — the batch's
    part ids left-joined onto per-part stats aggregated from the files
    just committed (no second execution of the extraction DAG, no
    Python rows) — and ``wall_ms`` records the batch job wall for each
    of its parts.
    """
    from ..operators.extraction import extract_ordered_spans

    out = extract_ordered_spans(with_part.filter(F.col("part").isin(parts)))
    commit_transformed_parts(spark, out, parts, out_dir, run_id, n_parts)


def commit_transformed_parts(
    spark: SparkSession,
    transformed: DataFrame,
    parts: list[int],
    out_dir: str,
    run_id: str,
    n_parts: int,
) -> None:
    """Commit an already-transformed, part-keyed frame for the given
    parts (dynamic partition overwrite + lineage append). Shared by the
    extraction job (whose narrow transform commutes with the part
    filter, so it pre-filters) and the corpus job (whose dedup verdict
    is GLOBAL — it must transform the full corpus and only then filter
    to the batch, or a resumed run would compute cluster keeps against
    a partial corpus and disagree with the original run)."""
    t0 = time.perf_counter()
    data_path = os.path.join(out_dir, "data")
    (
        transformed.filter(F.col("part").isin(parts))
        .repartition("part")  # one writer task, so one file, per part
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(data_path)
    )
    wall_ms = int((time.perf_counter() - t0) * 1000)
    written = spark.read.parquet(data_path).filter(F.col("part").isin(parts))
    n_spans = (
        F.sum(F.size("spans")) if "spans" in written.columns else F.lit(0)
    )
    stats = written.groupBy("part").agg(
        F.count("*").alias("n_docs"),
        n_spans.alias("n_spans"),
    )
    # one lineage row for EVERY part in the batch — a part whose data
    # yields zero output rows still counts as committed (stats default
    # to 0/0), or it would be re-selected on every resume forever
    (
        spark.range(n_parts)
        .select(F.col("id").cast("int").alias("part"))
        .filter(F.col("part").isin(parts))
        .join(stats, "part", "left")
        .select(
            "part",
            F.lit(n_parts).cast("int").alias("n_parts"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit(run_id).alias("run_id"),
        )
        .coalesce(1)  # one lineage file per commit
        .write.mode("append")
        .parquet(os.path.join(out_dir, "_lineage"))
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    run_id: str,
    n_parts: int = 8,
    fail_after_parts: int | None = None,
) -> int:
    """Resumable extraction job: batched part commit + anti-join resume.

    ``fail_after_parts`` simulates a mid-job kill for the resume test
    (commits only that many parts, then raises). Returns the number of
    parts processed in this run.
    """
    # resume safety: partition count is part of the checkpoint identity —
    # a different n_parts would re-key every doc and double-write. Adopt
    # the committed run's n_parts if one exists.
    existing = committed_parts(spark, out_dir)
    first = existing.select("n_parts").limit(1).collect()
    if first:
        n_parts = first[0]["n_parts"]

    with_part = docs.withColumn("part", part_col(F.col("doc_id"), n_parts))
    todo = [
        r["part"]
        for r in remaining_parts(with_part.select("part").distinct(), existing)
        .orderBy("part")
        .collect()
    ]
    batch = todo if fail_after_parts is None else todo[:fail_after_parts]
    if batch:
        write_parts_batch(spark, with_part, batch, out_dir, run_id, n_parts)
    if fail_after_parts is not None:
        raise RuntimeError(f"simulated failure after {len(batch)} parts")
    return len(batch)


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
    split over the FULL corpus, committed in content-keyed part batches
    with anti-join resume — the LLM-ingest twin of run_extraction_job.

    The verdict is recomputed over the whole input on every run (never
    just the remaining parts): a doc's near-dup keep depends on OTHER
    docs, so a partial-corpus verdict would disagree with the original
    run after a crash. Recomputation is safe because every stage is
    deterministic; only the WRITES are incremental. Output rows:
    (doc_id, source, text, split, part) for admitted docs only.
    ``quality_model`` (opt-in) adds the trained linear-scorer stage to
    the verdict (pipeline.corpus_filter) — resume-safe because the
    model dim is a deterministic input like the corpus itself.
    ``decontaminate`` (opt-in) adds the benchmark eval-overlap stage,
    equally deterministic and so equally resume-safe.
    """
    from ..operators.pipeline import corpus_filter, data_split

    existing = committed_parts(spark, out_dir)
    first = existing.select("n_parts").limit(1).collect()
    if first:
        n_parts = first[0]["n_parts"]

    cached: list[DataFrame] = []
    try:
        verdict = (
            corpus_filter(
                docs, cache_registry=cached, quality_model=quality_model,
                decontaminate=decontaminate,
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
        todo = [
            r["part"]
            for r in remaining_parts(admitted.select("part").distinct(), existing)
            .orderBy("part")
            .collect()
        ]
        batch = todo if fail_after_parts is None else todo[:fail_after_parts]
        if batch:
            commit_transformed_parts(
                spark, admitted, batch, out_dir, run_id, n_parts
            )
        if fail_after_parts is not None:
            raise RuntimeError(f"simulated failure after {len(batch)} parts")
        return len(batch)
    finally:
        # release the verdict's cached frames even on the simulated-kill
        # path — a resume loop in one long-lived session must not
        # accumulate cached blocks across invocations
        for c in cached:
            c.unpersist()


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
_CKPT_FIXTURE_VERSION = 2  # 2: one data file per part


def ensure_partial_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and return a checkpoint output dir where the REAL
    extraction job committed the first CKPT_FIXTURE_COMMIT of
    CKPT_FIXTURE_N_PARTS content-keyed parts and was then killed
    (``fail_after_parts``) — the state the resume / manifest surface
    exists for. Deterministic: parts are hash_bucket(doc_id) keyed and
    the batch takes the lowest remaining part ids, so the committed set
    is a pure function of the input table. Built atomically (tmp dir +
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


def compaction_plan(
    parts: DataFrame,
    size_col: str = "n_spans",
    target: int = COMPACT_TARGET_SPANS,
) -> DataFrame:
    """Small-file compaction planner — the table-maintenance pass every
    long-lived checkpointed table needs (Iceberg ``rewriteDataFiles``
    bin-pack semantics, public): committed parts are packed IN PART
    ORDER into output groups of ~``target`` rows each, group id =
    exclusive-prefix-sum DIV target. Pure integer arithmetic, so the
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
        F.col(size_col).cast("long").alias("n"),
    )
    w = Window.orderBy("part").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    binned = p.withColumn("_cum", cum).select(
        "part", "n", F.expr(f"_cum DIV {target}").cast("long").alias("bin_id")
    )
    stats = binned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("bin_parts"),
        F.sum("n").cast("long").alias("bin_rows"),
    )
    return binned.join(stats, "bin_id").select(
        "part", "n", "bin_id", "bin_parts", "bin_rows"
    )
