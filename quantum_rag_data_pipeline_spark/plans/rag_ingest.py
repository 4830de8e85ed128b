"""Generic RAG-ingestion plan over a document corpus — the engine's
north-star composition (BASELINE.json): what the reference does for one
ERCOT daily summary, done for arbitrary documents at corpus scale.

    documents
      → quality gate   (cheap column-expression filters, C4/Gopher style)
      → exact dedup    (md5 fingerprint groupBy, keep lowest id)
      → near dedup     (MinHash-LSH candidates ≥ threshold → drop higher id)
      → embed          (Arrow pandas_udf; injected encoder, fake in tests)
      → vector store   (keyed parquet/JDBC upsert — idempotent re-runs)
      → top-k serve    (brute-force cosine against the store)

Each stage is one of the already-tested operators; this module only
composes them, which is the point: a pipeline is a DataFrame → DataFrame
function chain, not an orchestration framework.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.embedding import make_embed_udf
from quantum_rag_data_pipeline_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from quantum_rag_data_pipeline_spark.operators.similarity import brute_force_topk
from quantum_rag_data_pipeline_spark.operators.text import quality_metrics


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_distinct_ratio: float = 0.1,
) -> DataFrame:
    """Keep documents passing the cheap quality filters. Pure column
    expressions — runs at scan speed, before anything expensive."""
    q = quality_metrics(docs)
    return q.filter(
        (F.col("q_n_tokens") >= min_tokens)
        & (F.col("q_n_tokens") <= max_tokens)
        & (F.col("q_distinct_ratio") >= min_distinct_ratio)
    ).select(*docs.columns)


def near_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               threshold: float = 0.6) -> DataFrame:
    """Drop the higher-id member of every MinHash-LSH near-dup pair.
    Anti-join against the drop-set — one extra shuffle, no text moves."""
    pairs = minhash_lsh_pairs(docs, text_col, id_col, num_hashes=64, bands=16,
                              n=5, verify_threshold=threshold)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(drop, id_col, "left_anti")


def ingest(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    encoder=None,
    embed_dim: int = 64,
    near_dup_threshold: float = 0.6,
) -> dict:
    """Full ingest, idempotent by doc_id; returns stage-count telemetry.
    The DAG runs once, as the upsert: the stage sizes are observed during
    that one write, not counted by an action per stage."""
    from quantum_rag_data_pipeline_spark.sinks.upsert import _observed, parquet_upsert

    obs = {stage: Observation() for stage in ("raw", "after_quality", "after_exact_dedup")}
    n = F.count(F.lit(1)).alias("rows")
    gated = quality_gate(docs.observe(obs["raw"], n)).observe(obs["after_quality"], n)
    exact = exact_dedup(gated).observe(obs["after_exact_dedup"], n)
    deduped = near_dedup(exact, threshold=near_dup_threshold)

    embed = make_embed_udf(encoder, embed_dim)
    rows = deduped.select(
        F.col("doc_id"), F.col("text"),
        embed(F.col("text")).alias("embedding"),
        F.current_timestamp().alias("updated_at"),
    )
    written = parquet_upsert(spark, rows, store_path, ["doc_id"], version_col="updated_at")
    return {**{stage: _observed(o).get("rows", 0) for stage, o in obs.items()},
            "after_near_dedup": written["attempted"]}


def serve_topk(spark: SparkSession, store_path: str, query_vecs: DataFrame,
               k: int = 10, dim: int = 64) -> DataFrame:
    """Top-k cosine retrieval against the ingested store."""
    store = spark.read.parquet(store_path).select(
        F.col("doc_id").alias("vec_id"), F.col("embedding")
    )
    return brute_force_topk(store, query_vecs, k=k, dim=dim)
