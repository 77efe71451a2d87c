"""The two workloads and the query suite: input, one iteration through
the layers' public functions, and the output check.

Each ``iteration`` times its calls with ``Layers.layer``; the layer times
of one iteration cover the whole iteration. ``check`` runs outside the
timed region and returns a list of failures (empty when correct).
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pyarrow.parquet as pq

import inputs
from oracle import MATCH_QUERIES, digest


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def _table_digest(t) -> list:
    return digest(t.column_names, list(zip(*[c.to_pylist() for c in t.columns])))


class Match:
    """``pipeline.py --job match``: feature the pages, match vouchers
    against the reference index, merge page ranges, write the reports."""

    name = "match"
    n_docs = 600
    item_unit = "voucher pages"
    oracle_queries = ()

    def make_input(self, sf_dir: str, seed: int) -> int:
        return inputs.write_sf_dir(sf_dir, seed, self.n_docs)

    def iteration(self, spark, sf_dir: str, out: str, L) -> None:
        from pdf_ocr_comparison_tool_spark.operators import matching, merge
        from pdf_ocr_comparison_tool_spark.queries import (
            _featured_roles,
            match_summary_from_best,
        )

        with L.layer("features.call"):
            v, r = _featured_roles(spark, sf_dir)
        with L.layer("matching.call"):
            best = matching.with_matched_keywords(
                matching.best_matches(
                    v, matching.match_pages(v, r, ref_per_key_cap=matching.REF_PER_KEY_CAP)
                ),
                v,
                r,
            ).cache()
        with L.layer("matching.exec"):
            best.drop("matched_kw_arr").write.mode("overwrite").parquet(f"{out}/match_best")
        with L.layer("merge.exec"):
            merge.merge_page_matches(best, keywords=True).write.mode("overwrite").parquet(
                f"{out}/match_merged"
            )
            best.unpersist()
        with L.layer("reports.exec"):
            match_summary_from_best(spark.read.parquet(f"{out}/match_best")).write.mode(
                "overwrite"
            ).parquet(f"{out}/match_summary")

    def check(self, spark, sf_dir: str, out: str, oracle: dict, state: dict) -> list[str]:
        errors = []
        best = pq.read_table(f"{out}/match_best")
        for name in MATCH_QUERIES:
            got = _table_digest(best if name == "match_best" else pq.read_table(f"{out}/{name}"))
            if got != oracle[name]:
                errors.append(f"{name}: {got} != oracle {oracle[name]}")
        # counted from the program's output, so the tripwires move with it
        state["items"] = best.num_rows
        state["status_counts"] = dict(Counter(best.column("status").to_pylist()))
        return errors


class Extract:
    """``run_extraction_job`` into a fresh directory, then again on the
    committed directory (the resume path, which must commit 0 parts)."""

    name = "extract"
    n_docs, rep, n_files, n_parts = 2000, 20, 16, 64
    item_unit = "docs committed"
    oracle_queries = ()
    sample_docs = 24

    def make_input(self, sf_dir: str, seed: int) -> int:
        return inputs.write_sf_dir(
            sf_dir, seed, self.n_docs, rep=self.rep, n_files=self.n_files
        )

    def _docs(self, spark, sf_dir: str):
        from pdf_ocr_comparison_tool_spark import synth
        from pdf_ocr_comparison_tool_spark.plans.skew import salted_repartition

        return salted_repartition(
            synth.spans_df(spark, sf_dir),
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )

    def iteration(self, spark, sf_dir: str, out: str, L) -> None:
        from pdf_ocr_comparison_tool_spark.sources import checkpoint as cp

        shutil.rmtree(out, ignore_errors=True)
        with L.layer("checkpoint.commit"):
            L.result["committed"] = cp.run_extraction_job(
                spark, self._docs(spark, sf_dir), out, run_id="fresh", n_parts=self.n_parts
            )
        with L.layer("checkpoint.resume"):
            L.result["resumed"] = cp.run_extraction_job(
                spark, self._docs(spark, sf_dir), out, run_id="resume", n_parts=self.n_parts
            )

    def extraction_only(self, spark, sf_dir: str, L) -> None:
        from pdf_ocr_comparison_tool_spark.operators.extraction import extract_ordered_spans

        with L.layer("extraction.exec"):
            extract_ordered_spans(self._docs(spark, sf_dir)).write.format("noop").mode(
                "overwrite"
            ).save()

    def check(self, spark, sf_dir: str, out: str, oracle: dict, state: dict) -> list[str]:
        import pandas as pd
        from pyspark.sql import functions as F

        from pdf_ocr_comparison_tool_spark import synth
        from pdf_ocr_comparison_tool_spark.operators.extraction import pandas_oracle
        from pdf_ocr_comparison_tool_spark.sources import checkpoint as cp

        errors = []
        res = state.pop("result")
        if res["resumed"] != 0:
            errors.append(f"resume committed {res['resumed']} parts, expected 0")
        tot = cp.committed_parts(spark, out).agg(
            F.sum("n_docs").alias("docs"), F.sum("n_spans").alias("spans"),
            F.count("*").alias("parts"),
        ).collect()[0]
        want = (state["n_input"], oracle["extract_spans_total"], res["committed"])
        if (tot["docs"], tot["spans"], tot["parts"]) != want:
            errors.append(f"lineage (docs, spans, parts) {tuple(tot)} != {want}")
        ids = sorted(pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
                     .column(0).to_numpy()[:: state["n_input"] // self.sample_docs].tolist())
        src = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id").isin(ids))
        spans = synth.spans_from_docs(src.select("doc_id", "text")).collect()
        want_rows = sorted(pandas_oracle(pd.DataFrame(
            {"doc_id": [r["doc_id"] for r in spans], "spans": [r["spans"] for r in spans]}
        )))
        got = pq.read_table(f"{out}/data", columns=["doc_id", "spans"],
                            filters=[("doc_id", "in", ids)]).to_pylist()
        got_rows = sorted((r["doc_id"], [tuple(s.values()) for s in r["spans"]]) for r in got)
        if got_rows != want_rows:
            errors.append("sampled docs differ from extraction.pandas_oracle")
        state["items"] = tot["docs"]
        size, files = _dir_bytes(os.path.join(out, "data"))
        state["write_bytes"], state["write_files"] = size, files
        return errors


# One body query per module: corpus_filter runs pipeline.corpus_filter,
# whose exact and near-dup stages run dedup and connected components and
# whose quality band runs textstats.
SUITE = (
    ("bm25_search.head", "bm25_search"),
    ("triangle_count.head", "triangle_count"),
    ("corpus_filter", "corpus_filter"),
    ("pagerank", "pagerank"),
    ("bpe_encode", "bpe_encode"),
    ("match_cosine_pairs", "match_cosine_pairs"),
    ("media_decode", "media_decode"),
    ("main_content", "main_content"),
    ("bm25_search.tail", "bm25_search"),
    ("triangle_count.tail", "triangle_count"),
)


class Suite:
    """Registered queries run one after another in one session,
    ``clearCache()`` between them; the untouched sentinels
    ``bm25_search`` and ``triangle_count`` run at the head and the tail.

    Not a workload of its own: the traced run of ``match`` runs it once
    in its traced session, after the match flow, for the per-layer
    metrics of the modules the two jobs leave unmeasured. Each query's
    rows are collected as Arrow (the sink) and checked after the pass.
    The sentinels run once before it, so the head sentinels run warm and
    head against tail measures cross-query interference; each body query
    runs for the first time in the process, code generation included, as
    it does in a one-query job."""

    name = "suite"
    n_docs, n_vecs = 200, 200
    oracle_queries = tuple(dict.fromkeys(q for _, q in SUITE))

    def make_input(self, sf_dir: str, seed: int) -> int:
        return inputs.write_sf_dir(sf_dir, seed, self.n_docs, self.n_vecs)

    def iteration(self, spark, sf_dir: str, out: str, L, entries=SUITE) -> None:
        from pdf_ocr_comparison_tool_spark import queries as Q

        qs = Q.queries()
        tables = L.result["tables"] = {}
        for entry, q in entries:
            with L.layer(f"suite.{entry}.call"):
                df = qs[q](spark, sf_dir)
            with L.layer(f"suite.{entry}.exec"):
                tables[entry] = (q, df.toArrow())
            spark.catalog.clearCache()

    def check(self, spark, sf_dir: str, out: str, oracle: dict, state: dict) -> list[str]:
        errors = []
        for entry, (q, t) in state.pop("result")["tables"].items():
            got = _table_digest(t)
            if got != oracle[q]:
                errors.append(f"{entry}: {got} != oracle {oracle[q]}")
        state["items"] = len(SUITE)
        return errors


WORKLOADS = {w.name: w for w in (Match(), Extract())}
SUITE_PASS = Suite()
