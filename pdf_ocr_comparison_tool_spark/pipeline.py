"""spark-submit entry point for the extraction job (north rule: ships
via ``spark-submit --py-files`` to a multi-executor cluster).

    spark-submit --py-files pdf_ocr_comparison_tool_spark.zip \
        -m pdf_ocr_comparison_tool_spark.pipeline -- \
        --input /path/sfX --output /path/out --run-id r1 [--n-parts 256]

Resumable: re-running with the same ``--output`` processes only parts
missing from the lineage manifest (exactly-once per part).
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid

from pyspark.sql import functions as F

from . import synth
from .materialize import materialize, scope
from .plans.skew import salted_repartition
from .session import get_spark
from .sources import checkpoint as cp


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="sf dir with documents.parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--n-parts", type=int, default=64)
    p.add_argument("--cores", default=None)
    p.add_argument(
        "--job",
        choices=(
            "extract", "corpus", "match", "tokenize", "dedup", "embed",
            "govern", "html",
        ),
        default="extract",
        help="extract = spans pipeline; corpus = admission filter + split "
        "(+ --publish for the final shard layout); match = the "
        "reference's primary workflow (voucher-vs-reference staged "
        "match + merged islands + summary reports); tokenize = BPE fit "
        "+ vocab + corpus encode (the tokenizer artifacts + the "
        "tensor-ready token table); dedup = near-dup pipeline end to "
        "end (LSH candidates → verify → CC → quality-aware keeper + "
        "cluster profile + sketch calibration); embed = embedding-"
        "curation suite over embeddings.parquet (kNN graph + hard "
        "negatives + label-noise screen + PageRank centrality + "
        "triangle cohesion) off one shared candidate-pair build; "
        "govern = the release governance bundle (dataset card + PII "
        "rollup + contamination report + mixture weights + quality "
        "agreement) as one parquet directory per table; html = DOM "
        "boilerplate strip (parse blocks -> jusText classify -> "
        "main_content + per-block report)",
    )
    p.add_argument(
        "--publish",
        default=None,
        help="corpus only: after all parts commit, re-lay the output as "
        "split/source training shards at this path",
    )
    p.add_argument(
        "--quality-model",
        action="store_true",
        help="corpus only: add the trained linear quality scorer "
        "(textstats.quality_model_dim) as a model_low_quality "
        "admission stage",
    )
    p.add_argument(
        "--decontaminate",
        action="store_true",
        help="corpus only: add the benchmark eval-overlap scan "
        "(dedup.decontaminate) as a contaminated admission stage",
    )
    args = p.parse_args(argv)

    spark = get_spark(app_name=f"{args.job}-job", cores=args.cores)
    run_id = args.run_id or uuid.uuid4().hex[:12]
    # every intermediate a job materializes is released when it ends
    with scope():
        result = _run_job(spark, args, run_id)
    print(json.dumps(result))
    spark.stop()


def _run_job(spark, args, run_id: str) -> dict:
    """Run ``args.job`` and return its one-line JSON summary."""
    if args.job == "match":
        # the reference's end-user workflow (main.py batch mode):
        # match every voucher page against the reference index, merge
        # consecutive matches into islands, and emit the three report
        # tables its Excel/CSV sinks carry (S12-S14) — as parquet
        from .operators import matching, merge
        from .queries import _featured_roles, match_summary_from_best

        v, r = _featured_roles(spark, args.input)
        # ONE execution of the match DAG feeds both writes; the summary
        # then derives from the already-written match_best parquet —
        # previously the full multi-join pipeline recomputed ~3x across
        # the two writes + summary
        best = materialize(
            matching.with_matched_keywords(
                matching.best_matches(v, matching.match_pages(v, r)), v, r
            )
        )
        best.drop("matched_kw_arr").write.mode("overwrite").parquet(
            f"{args.output}/match_best"
        )
        merged = merge.merge_page_matches(best, keywords=True)
        merged.write.mode("overwrite").parquet(f"{args.output}/match_merged")
        written_best = spark.read.parquet(f"{args.output}/match_best")
        summary = match_summary_from_best(written_best)
        summary.write.mode("overwrite").parquet(f"{args.output}/match_summary")
        n_best = written_best.count()
        n_merged = spark.read.parquet(f"{args.output}/match_merged").count()
        rows = spark.read.parquet(f"{args.output}/match_summary").collect()
        return {
            "job": "match",
            "run_id": run_id,
            "pages_matched": n_best,
            "islands": n_merged,
            "status_counts": {x["status"]: x["n"] for x in rows},
        }

    if args.job == "tokenize":
        # the tokenizer-training workflow: ONE fit run feeds all three
        # artifacts (merge table, vocab, encoded corpus) — bpe_fit /
        # bpe_encode / bpe_vocab each refit when called standalone
        from .operators import bpe

        docs = synth.load_table(spark, args.input, "documents").repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        # ONE corpus tokenization pass feeds fit + vocab (eager
        # checkpoint; encode's positional explode is inherently a
        # second pass — it needs per-occurrence order, not counts)
        wf = materialize(bpe.word_freqs(docs))
        merge_frames, state = bpe._run_merges(docs, bpe.BPE_MERGES, wf=wf)
        merge_df = bpe._union_merges(merge_frames)
        merge_df.write.mode("overwrite").parquet(f"{args.output}/bpe_merges")
        fitted = spark.read.parquet(f"{args.output}/bpe_merges")
        bpe.bpe_vocab(docs, merges=fitted, wf=wf).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/bpe_vocab")
        tokens = bpe.encode_with_state(docs, state)
        tokens.write.mode("overwrite").parquet(f"{args.output}/tokens")
        n_tokens = spark.read.parquet(f"{args.output}/tokens").count()
        n_vocab = spark.read.parquet(f"{args.output}/bpe_vocab").count()
        return {
            "job": "tokenize",
            "run_id": run_id,
            "n_merges": bpe.BPE_MERGES,
            "vocab_size": n_vocab,
            "tokens_emitted": n_tokens,
        }

    if args.job == "dedup":
        # the dedup workflow end to end: candidates → exact-Jaccard
        # verify → CC clusters → quality-aware keeper, plus the two
        # run reports (cluster-size profile, sketch calibration) —
        # ONE materialized signature build feeds every stage
        from .operators import dedup, textstats

        docs = synth.load_table(spark, args.input, "documents").repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        withsig = materialize(dedup.with_minhash(docs))
        pairs = dedup.lsh_candidate_pairs(withsig)
        verified = dedup.verified_near_dups(withsig, pairs)
        clusters = dedup.connected_components(verified.select("a", "b"))
        scores = textstats.quality_score(
            docs, textstats.quality_model_dim(spark)
        )
        keep = dedup.keep_best_in_cluster(clusters, scores)
        keep.write.mode("overwrite").parquet(f"{args.output}/dedup_keep")
        dedup.cluster_size_stats(clusters).write.mode("overwrite").parquet(
            f"{args.output}/cluster_stats"
        )
        dedup.minhash_calibration(docs, withsig=withsig).write.mode(
            "overwrite"
        ).parquet(f"{args.output}/calibration")
        written = spark.read.parquet(f"{args.output}/dedup_keep")
        n_clustered = written.count()
        n_keep = written.filter(F.col("keep_best")).count()
        return {
            "job": "dedup",
            "run_id": run_id,
            "clustered_docs": n_clustered,
            "keepers": n_keep,
            "dropped": n_clustered - n_keep,
        }

    if args.job == "govern":
        # the release governance bundle: every dataset-card table a
        # compliance review reads before a corpus ships, written as one
        # parquet directory each. The rollups are independent aggregates
        # over the same corpus scan; the corpus itself is never cached
        # (each pass is scan→aggregate; caching raw text would evict
        # more useful working sets at real scale).
        from .operators import dedup as dd
        from .operators import features as fe
        from .operators import pipeline as pl
        from .operators import textstats as ts

        docs = synth.load_table(spark, args.input, "documents").repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        outputs = {
            "corpus_stats": pl.corpus_stats(docs, ts.lang_dim(spark)),
            "host_stats": fe.host_stats(docs),
            "pii_stats": fe.pii_stats(docs),
            "contamination_report": dd.contamination_report(docs),
            "mixture_weights": pl.mixture_weights(docs),
            "quality_agreement": ts.quality_agreement(
                docs, ts.quality_model_dim(spark)
            ),
        }
        for name, df in outputs.items():
            df.write.mode("overwrite").parquet(f"{args.output}/{name}")
        card = {
            name: spark.read.parquet(f"{args.output}/{name}").count()
            for name in outputs
        }
        return {"job": "govern", "run_id": run_id, "rows": card}

    if args.job == "html":
        # HTML boilerplate strip end to end: one classified-block frame
        # (materialized — pruned to the columns both consumers read)
        # feeds the per-block classification report AND the per-doc
        # main-content strip, so the parse + window run once.
        from .operators import boilerplate as bp

        classified = materialize(
            bp.classify_blocks(
                bp.parse_blocks(synth.html_df(spark, args.input))
            ).select(
                "doc_id", "b", "tag", "media_ref", "text", "text_chars",
                "n_links", "link_density", "stop_density", "cf_class",
                "final_class",
            )
        )
        blocks_report = classified.drop("text")
        content = bp.main_content(classified)
        blocks_report.write.mode("overwrite").parquet(f"{args.output}/blocks")
        content.write.mode("overwrite").parquet(f"{args.output}/main_content")
        agg = spark.read.parquet(f"{args.output}/main_content").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_blocks").alias("blocks"),
            F.sum("n_content").alias("content_blocks"),
            F.sum("content_chars").alias("content_chars"),
            F.sum("boiler_chars").alias("boiler_chars"),
        ).collect()[0]
        return {
            "job": "html", "run_id": run_id, "docs": agg["docs"],
            "blocks": agg["blocks"], "content_blocks": agg["content_blocks"],
            "content_chars": agg["content_chars"],
            "boiler_chars": agg["boiler_chars"],
        }

    if args.job == "embed":
        # the embedding-curation suite end to end: ONE materialized
        # candidate-pair build (the LSH bucket self-join — the only
        # expensive stage) feeds the kNN graph; the materialized kNN
        # graph then feeds label noise / PageRank / triangles, so the graph
        # is built exactly once across the five outputs
        from .operators import similarity_search as ss

        emb = synth.load_table(spark, args.input, "embeddings").repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        pairs = materialize(ss._knn_pairs(emb))
        knn = materialize(ss.knn_join(emb, pairs=pairs))
        knn.write.mode("overwrite").parquet(f"{args.output}/knn")
        ss.hard_negatives(emb, pairs=pairs).write.mode("overwrite").parquet(
            f"{args.output}/hard_negatives"
        )
        ss.knn_label_noise(emb, knn=knn).write.mode("overwrite").parquet(
            f"{args.output}/label_noise"
        )
        ss.pagerank_centrality(emb, knn=knn).write.mode("overwrite").parquet(
            f"{args.output}/pagerank"
        )
        ss.triangle_count(emb, knn=knn).write.mode("overwrite").parquet(
            f"{args.output}/triangles"
        )
        nn = spark.read.parquet(f"{args.output}/knn")
        sus = spark.read.parquet(f"{args.output}/label_noise")
        return {
            "job": "embed",
            "run_id": run_id,
            "knn_edges": nn.count(),
            "suspects": sus.filter(F.col("suspect")).count(),
            "hard_negatives": spark.read.parquet(
                f"{args.output}/hard_negatives"
            ).count(),
        }

    if args.job == "extract":
        docs = salted_repartition(
            synth.spans_df(spark, args.input),
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        done = cp.run_extraction_job(
            spark, docs, args.output, run_id=run_id, n_parts=args.n_parts
        )
    else:
        docs = synth.load_table(spark, args.input, "documents").repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
        qm = None
        if args.quality_model:
            from .operators import textstats

            qm = textstats.quality_model_dim(spark)
        done = cp.run_corpus_job(
            spark, docs, args.output, run_id=run_id, n_parts=args.n_parts,
            quality_model=qm, decontaminate=args.decontaminate,
        )
    lineage = cp.committed_parts(spark, args.output)
    stats = lineage.agg(
        F.sum("n_docs").alias("docs"), F.sum("n_spans").alias("spans")
    ).collect()[0]
    result = {
        "job": args.job,
        "run_id": run_id,
        "parts_processed": done,
        "total_docs": stats["docs"],
        "total_spans": stats["spans"],
    }
    if args.job == "corpus" and args.publish:
        man = cp.publish_training_shards(spark, args.output, args.publish)
        result["published_partitions"] = man.count()
    return result


if __name__ == "__main__":
    main(sys.argv[1:])
