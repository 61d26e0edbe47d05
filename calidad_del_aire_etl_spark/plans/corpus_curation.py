"""Corpus-curation DAG: the LLM training-data pipeline composed
end-to-end over the orchestrator.

The data-side twin of plans/air_quality.py: where that flow mirrors
the reference's ETL (dag:409-441), this one chains the corpus
operators — quality filter → language ID → exact dedup → benchmark
decontamination → chunk → pack — into orchestrated tasks with the
same retry/failure-propagation semantics.

Like the air-quality flow, stages pass DataFrames (lazy plans), not
materialized data: only the final pack stage triggers execution, so
the scheduler layer adds zero extra scans. The single persist() on
the curated relation exists because two downstream tasks (stats,
chunking) both consume it — the multi-branch-reuse rule from
SURVEY §4."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus, dedup, text
from ..sources.readers import read_parquet
from .orchestrator import Dag


def curate(docs: DataFrame, min_quality: float = 0.35) -> DataFrame:
    """quality → lang-ID → filter → exact-dedup, one lazy plan."""
    scored = text.quality_score(docs, "text")
    lang = text.lang_scores(scored, "text").withColumn("lang_id", text.lang_pick())
    kept = lang.filter(F.col("quality_score") >= min_quality)
    # exact_dedup returns (content_hash, survivor doc_id); semi-join keeps
    # the survivors' full rows without duplicating the text payload
    survivors = dedup.exact_dedup(kept, "doc_id", "text").select("doc_id")
    return kept.join(survivors, "doc_id", "left_semi").select(
        "doc_id", "text", "source", "lang_id", "quality_score"
    )


def corpus_curation_dag(
    spark: SparkSession, sf_dir: str, out_dir: str, budget: int = 512
) -> Dag:
    dag = Dag("corpus_curation")

    @dag.task("ingest", retries=3)
    def _ingest(**_):
        return read_parquet(
            spark, f"{sf_dir}/documents.parquet", ["doc_id", "text", "source"]
        )

    @dag.task("curate", upstream=["ingest"], retries=3)
    def _curate(docs):
        # eager localCheckpoint, not persist(): three downstream tasks
        # consume this, and a persist() here is never released — repeated
        # DAG runs in a long-lived session would accumulate cached
        # partitions (the r2-ADVICE leak pattern). Checkpoint blocks are
        # ContextCleaner-managed; AQE re-picks broadcast joins from
        # runtime sizes, so the LogicalRDD's unknown stats don't cost the
        # downstream anti-join its broadcast.
        return curate(docs).localCheckpoint(eager=True)

    @dag.task("decontaminate", upstream=["curate"], retries=3)
    def _decontaminate(curated):
        flagged = corpus.contamination_check(curated, "doc_id", "text", n=5)
        return curated.join(flagged, "doc_id", "left_anti")

    @dag.task("stats", upstream=["curate"], retries=3)
    def _stats(curated):
        return {
            r["lang_id"]: r["n"]
            for r in curated.groupBy("lang_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    @dag.task("chunk_pack", upstream=["decontaminate"], retries=3)
    def _chunk_pack(clean):
        chunks = corpus.chunk_documents(
            clean, "doc_id", "text", chunk_size=256, overlap=32
        )
        # synthetic stable per-chunk id for shard routing / pack ordering
        chunk_ids = chunks.select(
            (F.col("doc_id") * 10_000 + F.col("chunk_idx")).alias("chunk_id"),
            F.col("chunk_text").alias("text"),
        )
        packed = corpus.pack_sequences(chunk_ids, "chunk_id", "text", budget=budget)
        packed.write.mode("overwrite").parquet(out_dir)
        return out_dir

    return dag
