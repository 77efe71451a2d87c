"""Exactly-once resume semantics (SURVEY §5: kill mid-job, rerun,
assert exactly-once output) + the manifest-level compaction
planner."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_ocr_comparison_tool_spark import synth
from pdf_ocr_comparison_tool_spark.operators import extraction
from pdf_ocr_comparison_tool_spark.sources import checkpoint as cp
from tests.conftest import SF_DIR


def test_kill_and_resume_exactly_once(spark):
    docs = synth.spans_df(spark, SF_DIR)
    expected = extraction.extract_ordered_spans(docs)
    exp_n = expected.count()
    exp_spans = expected.agg(F.sum(F.size("spans"))).collect()[0][0]

    with tempfile.TemporaryDirectory() as out:
        # first run dies after 3 of 8 parts
        with pytest.raises(RuntimeError, match="simulated failure"):
            cp.run_extraction_job(
                spark, docs, out, run_id="r1", n_parts=8, fail_after_parts=3
            )
        lin1 = cp.committed_parts(spark, out)
        assert lin1.count() == 3

        # resume processes exactly the remaining 5 parts
        done = cp.run_extraction_job(spark, docs, out, run_id="r2", n_parts=8)
        assert done == 5

        # output is exactly-once: same doc set, no duplicates
        got = cp.read_output(spark, out)
        assert got.count() == exp_n
        assert got.select("doc_id").distinct().count() == exp_n
        got_spans = got.agg(F.sum(F.size("spans"))).collect()[0][0]
        assert got_spans == exp_spans

        # lineage totals equal data totals (metrics committed with data)
        lin = cp.committed_parts(spark, out)
        assert lin.count() == 8
        assert lin.agg(F.sum("n_docs")).collect()[0][0] == exp_n
        assert lin.agg(F.sum("n_spans")).collect()[0][0] == exp_spans
        assert set(r["run_id"] for r in lin.collect()) == {"r1", "r2"}

        # idempotence: a third run has nothing to do
        assert cp.run_extraction_job(spark, docs, out, run_id="r3") == 0


def _parquet_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_commit_writes_one_file_per_part(spark):
    """Every committed data/part=* directory holds exactly one parquet
    file, however many input partitions feed the commit."""
    docs = synth.spans_df(spark, SF_DIR).repartition(7)
    with tempfile.TemporaryDirectory() as out:
        assert cp.run_extraction_job(spark, docs, out, run_id="r1", n_parts=8) == 8
        data = os.path.join(out, "data")
        dirs = [d for d in os.listdir(data) if d.startswith("part=")]
        assert len(dirs) == 8
        for d in dirs:
            assert len(_parquet_files(os.path.join(data, d))) == 1, d


def test_empty_part_never_reselected(spark):
    """A part whose docs all transform away writes nothing and is never
    committed, so it is never selected either: the next resume over the
    manifest returns 0 and appends no lineage file. The committed rows
    carry the stats of the committed files."""
    out_df = extraction.extract_ordered_spans(synth.spans_df(spark, SF_DIR))
    with_part = out_df.withColumn("part", cp.part_col(F.col("doc_id"), 4))
    transformed = with_part.filter(F.col("part") != 2)
    with tempfile.TemporaryDirectory() as out:
        assert cp.commit_transformed_parts(spark, transformed, [], out, "r1", 4) == 3
        lin = {
            r["part"]: (r["n_docs"], r["n_spans"])
            for r in cp.committed_parts(spark, out).collect()
        }
        data = {
            r["part"]: (r["n"], r["s"])
            for r in cp.read_output(spark, out)
            .groupBy("part")
            .agg(F.count("*").alias("n"), F.sum(F.size("spans")).alias("s"))
            .collect()
        }
        assert lin == data
        assert set(lin) == {0, 1, 3}
        n_parts, committed = cp.read_manifest(spark, out, 4)
        assert (n_parts, sorted(committed)) == (4, [0, 1, 3])
        assert cp.commit_transformed_parts(
            spark, transformed, committed, out, "r2", n_parts
        ) == 0
        assert len(_parquet_files(os.path.join(out, "_lineage"))) == 1


def _jobs_in_group(spark, group, fn):
    """(fn's result, number of Spark jobs it ran under ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_read_back_runs_no_listing_job(spark):
    """Reading a fresh 64-part commit's stats back lists its part=*
    directories on the driver: no 64-task listing job runs, and the
    commit runs one job fewer than under Spark's default discovery
    threshold (32 paths)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    docs = synth.spans_df(spark, SF_DIR)
    tracker = spark.sparkContext.statusTracker()

    def commit(group):
        with tempfile.TemporaryDirectory() as out:
            done, jobs = _jobs_in_group(
                spark, group,
                lambda: cp.run_extraction_job(spark, docs, out, run_id="r1", n_parts=64),
            )
        assert done == 64
        ids = tracker.getJobIdsForGroup(group)
        tasks = [
            tracker.getStageInfo(st).numTasks
            for j in ids for st in tracker.getJobInfo(j).stageIds
        ]
        return jobs, tasks

    jobs, tasks = commit("ckpt-read-back")
    assert 64 not in tasks, tasks
    threshold = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        jobs_listed, tasks_listed = commit("ckpt-read-back-listed")
    finally:
        spark.conf.set(key, threshold)
    assert 64 in tasks_listed, tasks_listed
    assert jobs == jobs_listed - 1, (jobs, jobs_listed)


def test_noop_resume_never_reads_input(spark):
    """A resume of a fully committed directory reads only the manifest:
    given a poisoned input (evaluating it raises) it returns 0 and runs
    at most 3 jobs."""
    docs = synth.spans_df(spark, SF_DIR)
    poisoned = docs.filter(F.raise_error(F.lit("input was read")).isNull())
    with pytest.raises(Exception, match="input was read"):
        poisoned.collect()
    with tempfile.TemporaryDirectory() as out:
        assert cp.run_extraction_job(spark, docs, out, run_id="r1", n_parts=8) == 8
        done, jobs = _jobs_in_group(
            spark, "ckpt-noop-resume",
            lambda: cp.run_extraction_job(spark, poisoned, out, run_id="r2"),
        )
        assert done == 0
        assert jobs <= 3, jobs
        assert len(_parquet_files(os.path.join(out, "_lineage"))) == 1


def test_fresh_run_reads_input_once(spark):
    """A fresh run commits every part from ONE pass over its input: no
    separate pre-scan to find the parts to do."""
    docs = synth.spans_df(spark, SF_DIR)
    n_docs = docs.count()
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            seen.add(b.num_rows)
            yield b

    counted = docs.mapInArrow(count_rows, docs.schema)
    with tempfile.TemporaryDirectory() as out:
        assert cp.run_extraction_job(spark, counted, out, run_id="r1", n_parts=8) == 8
        assert seen.value == n_docs
        assert cp.committed_parts(spark, out).agg(F.sum("n_docs")).first()[0] == n_docs


def test_resume_after_kill_in_first_lineage_append(spark):
    """A run killed inside its first lineage append leaves only
    ``_lineage/_temporary/``; the manifest reads as empty and the
    resume commits every part."""
    docs = synth.spans_df(spark, SF_DIR)
    with tempfile.TemporaryDirectory() as out:
        attempt = os.path.join(out, "_lineage", "_temporary", "0", "_temporary")
        os.makedirs(attempt)
        open(os.path.join(attempt, "part-00000.snappy.parquet"), "wb").close()
        assert cp.committed_parts(spark, out).count() == 0
        assert cp.run_extraction_job(spark, docs, out, run_id="r1", n_parts=8) == 8
        lin = cp.committed_parts(spark, out)
        assert lin.count() == 8
        assert lin.agg(F.sum("n_docs")).first()[0] == docs.count()


def test_commit_appends_one_lineage_file(spark):
    """Each commit appends exactly one lineage file, whatever its batch
    size."""
    docs = synth.spans_df(spark, SF_DIR)
    with tempfile.TemporaryDirectory() as out:
        lineage = os.path.join(out, "_lineage")
        with pytest.raises(RuntimeError, match="simulated failure"):
            cp.run_extraction_job(
                spark, docs, out, run_id="r1", n_parts=8, fail_after_parts=3
            )
        assert len(_parquet_files(lineage)) == 1
        assert cp.run_extraction_job(spark, docs, out, run_id="r2", n_parts=8) == 5
        assert len(_parquet_files(lineage)) == 2
        assert cp.run_extraction_job(spark, docs, out, run_id="r3", n_parts=8) == 0
        assert len(_parquet_files(lineage)) == 2


def test_part_assignment_stable(spark):
    docs = synth.spans_df(spark, SF_DIR)
    a = docs.select("doc_id", cp.part_col(F.col("doc_id"), 8).alias("p"))
    b = docs.repartition(13).select(
        "doc_id", cp.part_col(F.col("doc_id"), 8).alias("p")
    )
    assert {(r["doc_id"], r["p"]) for r in a.collect()} == {
        (r["doc_id"], r["p"]) for r in b.collect()
    }


def test_training_shard_sink_roundtrip(spark):
    """The shard sink writes Hive-pruned split/source partitions with
    bounded files, and the read-back manifest matches the input
    exactly; a split filter on the read path prunes to the train
    directories only."""
    import tempfile

    from pyspark.sql import functions as F

    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators import pipeline
    from pdf_ocr_comparison_tool_spark.sources import training_sink as TS
    from tests.conftest import SF_DIR

    docs = synth.load_table(spark, SF_DIR, "documents")
    assigned = pipeline.data_split(docs).join(
        docs.select("doc_id", "text"), "doc_id"
    )
    with tempfile.TemporaryDirectory() as tdir:
        out = f"{tdir}/corpus"
        TS.write_training_shards(assigned, out, max_records_per_file=50)
        man = {
            (r["split"], r["source"]): (r["n_docs"], r["n_shards"])
            for r in TS.shard_manifest(spark, out).collect()
        }
        exp = {
            (r["split"], r["source"]): r["n"]
            for r in assigned.groupBy("split", "source")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert set(man) == set(exp)
        for k, (n_docs, n_shards) in man.items():
            assert n_docs == exp[k]
            # bounded shards: at least ceil(n/50) files (exact equality
            # only holds when one task writes the whole group —
            # maxRecordsPerFile splits PER TASK, so shuffle-partition /
            # AQE layout changes may spread a group over more files)
            assert n_shards >= (n_docs + 49) // 50
        # the real invariant: no shard file exceeds the record cap
        per_file = (
            spark.read.parquet(out)
            .groupBy(F.input_file_name())
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert per_file <= 50
        dirs = TS.list_partition_dirs(out)
        assert any(d.startswith("split=train/") for d in dirs)
        # partition pruning: a split filter must not scan other splits
        pruned = spark.read.parquet(out).filter(F.col("split") == "train")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(split" in plan
        n_train = pruned.count()
        assert n_train == sum(v for (s, _), (v, _2) in man.items() if s == "train")


def test_corpus_job_kill_rerun_exactly_once(spark):
    """The resumable corpus-build job: a killed first run commits only
    some parts; the rerun completes the rest; the final output equals a
    single uninterrupted run exactly (the global dedup verdict is
    recomputed over the FULL corpus on resume, so cluster keep
    decisions cannot drift), and publishing yields pruned shards."""
    import tempfile

    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.sources import checkpoint as cp
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents").repartition(8)

    def rows(out_dir):
        return {
            (r["doc_id"], r["source"], r["split"])
            for r in cp.read_output(spark, out_dir).collect()
        }

    with tempfile.TemporaryDirectory() as tdir:
        clean, resumed = f"{tdir}/clean", f"{tdir}/resumed"
        n = cp.run_corpus_job(spark, docs, clean, run_id="one", n_parts=6)
        assert n == 6
        try:
            cp.run_corpus_job(
                spark, docs, resumed, run_id="killed", n_parts=6,
                fail_after_parts=2,
            )
            raise AssertionError("simulated kill did not raise")
        except RuntimeError:
            pass
        assert cp.committed_parts(spark, resumed).count() == 2
        n2 = cp.run_corpus_job(spark, docs, resumed, run_id="two", n_parts=6)
        assert n2 == 4
        assert rows(clean) == rows(resumed)
        # the resumed layout: one file per part, one lineage file per
        # commit, lineage totals equal to the committed rows
        parts = [d for d in os.listdir(f"{resumed}/data") if d.startswith("part=")]
        assert len(parts) == 6
        for d in parts:
            assert len(_parquet_files(f"{resumed}/data/{d}")) == 1, d
        assert len(_parquet_files(f"{resumed}/_lineage")) == 2
        lin = cp.committed_parts(spark, resumed)
        assert lin.agg({"n_docs": "sum"}).collect()[0][0] == len(rows(clean))
        man = cp.publish_training_shards(spark, resumed, f"{tdir}/final")
        got = man.agg({"n_docs": "sum"}).collect()[0][0]
        assert got == len(rows(clean))


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_corpus_job_leaves_no_persisted_rdd(spark):
    """Deterministic storage lifetime: a corpus job — fresh, or killed
    by ``fail_after_parts`` between its data write and its lineage
    append — releases every intermediate it materialized (the MinHash
    signatures, the connected-components labels) before it returns or
    raises, so no persisted RDD outlives the call."""
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")
    with tempfile.TemporaryDirectory() as tdir:
        before = _persisted_ids(spark)
        assert cp.run_corpus_job(spark, docs, f"{tdir}/fresh", "r", n_parts=4) == 4
        assert _persisted_ids(spark) <= before
        with pytest.raises(RuntimeError):
            cp.run_corpus_job(
                spark, docs, f"{tdir}/killed", "r", n_parts=4, fail_after_parts=1
            )
        assert _persisted_ids(spark) <= before


def test_corpus_job_racing_writers_fenced(spark):
    """Run fencing: a zombie writer that read an empty manifest before
    the live run committed double-appends lineage rows for the same
    parts. The manifest must resolve to ONE authoritative row per part
    (lowest run_id precedence), the data must stay byte-identical to a
    clean single run, and a subsequent resume must find nothing to do."""
    import tempfile

    from pyspark.sql import functions as F

    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.operators.pipeline import (
        corpus_filter,
        data_split,
    )
    from pdf_ocr_comparison_tool_spark.sources import checkpoint as cp
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents").repartition(8)
    n_parts = 6

    def rows(out_dir):
        return {
            (r["doc_id"], r["source"], r["split"], r["part"])
            for r in cp.read_output(spark, out_dir).collect()
        }

    with tempfile.TemporaryDirectory() as tdir:
        clean, raced = f"{tdir}/clean", f"{tdir}/raced"
        cp.run_corpus_job(spark, docs, clean, run_id="solo", n_parts=n_parts)
        spark.catalog.clearCache()
        cp.run_corpus_job(spark, docs, raced, run_id="runA", n_parts=n_parts)
        spark.catalog.clearCache()
        # the zombie: replays the job's commit for ALL parts under a
        # later run id — exactly a second writer whose manifest read
        # (empty) ran before runA's lineage append
        admitted = (
            docs.select("doc_id", "source", "text")
            .join(corpus_filter(docs).filter(F.col("keep")).select("doc_id"), "doc_id")
            .join(data_split(docs).select("doc_id", "split"), "doc_id")
            .withColumn("part", cp.part_col(F.col("doc_id"), n_parts))
        )
        cp.commit_transformed_parts(
            spark, admitted, [], raced, "runB", n_parts
        )
        spark.catalog.clearCache()
        # raw lineage really does hold the double append …
        import os

        raw = spark.read.parquet(os.path.join(raced, "_lineage"))
        assert raw.count() == 2 * n_parts
        # … but the manifest fences to one row per part, first run wins
        man = cp.committed_parts(spark, raced).collect()
        assert len(man) == n_parts
        assert {r["part"] for r in man} == set(range(n_parts))
        assert all(r["run_id"] == "runA" for r in man)
        # data byte-identical to the un-raced run
        assert rows(raced) == rows(clean)
        # resume sees a fully committed job
        n3 = cp.run_corpus_job(spark, docs, raced, run_id="runC", n_parts=n_parts)
        spark.catalog.clearCache()
        assert n3 == 0


def test_corpus_job_partitioning_invariant(spark):
    """The corpus verdict and committed output are pure functions of
    the data — identical under different input partition layouts (the
    cluster-topology independence the checkpoint contract claims)."""
    import tempfile

    from pdf_ocr_comparison_tool_spark import synth
    from pdf_ocr_comparison_tool_spark.sources import checkpoint as cp
    from tests.conftest import SF_DIR_001

    docs = synth.load_table(spark, SF_DIR_001, "documents")

    def run(layout, out_dir):
        cp.run_corpus_job(spark, layout, out_dir, run_id="x", n_parts=4)
        spark.catalog.clearCache()
        return {
            (r["doc_id"], r["source"], r["split"], r["part"])
            for r in cp.read_output(spark, out_dir).collect()
        }

    with tempfile.TemporaryDirectory() as tdir:
        a = run(docs.repartition(3), f"{tdir}/a")
        b = run(docs.repartition(11).sortWithinPartitions("text"), f"{tdir}/b")
    assert a == b and a


def test_compaction_plan_matches_python_binpack(spark):
    """The planner equals a pure-Python exclusive-prefix-sum bin-pack,
    including an oversized part (own bin, following ids jump); bin
    rollups account for every row."""
    sizes = [(0, 100), (1, 100), (2, 2000), (3, 100), (4, 500), (5, 700)]
    parts = spark.createDataFrame(sizes, "part int, n_spans long")
    target = cp.COMPACT_TARGET_SPANS
    cum = 0
    want = {}
    for part, n in sizes:
        want[part] = cum // target
        cum += n
    rows = cp.compaction_plan(parts).collect()
    assert {r["part"]: r["bin_id"] for r in rows} == want
    assert sum(r["n"] for r in rows) == sum(n for _, n in sizes)
    by_bin: dict[int, list] = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for b, members in by_bin.items():
        assert all(m["bin_parts"] == len(members) for m in members)
        assert all(
            m["bin_rows"] == sum(x["n"] for x in members) for m in members
        )
    # parts within a bin are contiguous in part order
    for b, members in by_bin.items():
        ids = sorted(m["part"] for m in members)
        assert ids == list(range(ids[0], ids[-1] + 1))
