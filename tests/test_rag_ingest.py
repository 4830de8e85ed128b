"""End-to-end RAG-ingestion plan: gate → dedup → embed → store → serve."""

import pyarrow as pa
import pyarrow.parquet as pq
from plan_checks import jobs_of
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.embedding import fake_encode_batch, make_embed_udf
from quantum_rag_data_pipeline_spark.operators.dedup import exact_dedup
from quantum_rag_data_pipeline_spark.plans.rag_ingest import ingest, near_dedup, quality_gate, serve_topk
from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert
from quantum_rag_data_pipeline_spark.sources.registry import load_table


def test_rag_ingest_end_to_end(spark, sf_dir, tmp_path):
    store = str(tmp_path / "vector_store")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # inject exact + near duplicates (derived from the corpus itself)
    dup_exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dup_exact)

    tally = ingest(spark, corpus, store, embed_dim=32)
    assert tally["raw"] == corpus.count()
    assert tally["after_quality"] <= tally["raw"]
    # every injected exact duplicate must be removed
    assert tally["after_exact_dedup"] <= tally["after_quality"] - dup_exact.count() + 1
    assert tally["after_near_dedup"] <= tally["after_exact_dedup"]

    stored = spark.read.parquet(store)
    assert stored.count() == tally["after_near_dedup"]
    assert len(stored.first()["embedding"]) == 32

    # idempotent re-ingest: same corpus → same store
    tally2 = ingest(spark, corpus, store, embed_dim=32)
    assert tally2 == tally
    assert spark.read.parquet(store).count() == tally["after_near_dedup"]

    # retrieval: querying with a stored doc's own embedding returns it first
    # (re-read: the upsert swapped the files under the old DataFrame's plan)
    stored = spark.read.parquet(store)
    probe_ids = [r["doc_id"] for r in stored.select("doc_id").limit(3).collect()]
    q = stored.filter(F.col("doc_id").isin(probe_ids)).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    top = serve_topk(spark, store, q, k=5, dim=32)
    best = {r["query_id"]: r["vec_id"] for r in top.collect() if r["cos_sim"] >= 0.999999}
    assert all(best[i] == i for i in probe_ids)


def test_ingest_runs_its_dag_once(spark, sf_dir, tmp_path):
    """The stage sizes are observed during the upsert's write: an ingest
    runs exactly the jobs of one bare upsert of the same frame built from
    the public stage functions (a count() per stage re-ran the DAG up to
    that stage, doubling them). Each tally is its stage frame's row count,
    although the exact-deduped frame reaches the write twice, through the
    checkpointed MinHash signatures and through the anti-join. An empty
    corpus tallies zeros and writes no rows."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # one landing file, not a union: the optimizer pushes a semi or anti
    # join below a bare union, which would change the bare plan's shape
    landing = str(tmp_path / "landing")
    docs.unionByName(docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")).write.parquet(landing)
    corpus = spark.read.parquet(landing)
    store = str(tmp_path / "store")
    tally, ingest_jobs = jobs_of(spark, lambda: ingest(spark, corpus, store, embed_dim=8))

    gated = quality_gate(corpus)
    exact = exact_dedup(gated)

    def bare_upsert():
        rows = near_dedup(exact).select(
            "doc_id", "text", make_embed_udf(None, 8)(F.col("text")).alias("embedding"),
            F.current_timestamp().alias("updated_at"))
        return parquet_upsert(spark, rows, str(tmp_path / "bare"), ["doc_id"], version_col="updated_at")

    written, upsert_jobs = jobs_of(spark, bare_upsert)
    assert ingest_jobs == upsert_jobs > 0
    assert tally == {"raw": corpus.count(), "after_quality": gated.count(),
                     "after_exact_dedup": exact.count(), "after_near_dedup": written["attempted"]}
    assert tally["after_near_dedup"] == near_dedup(exact).count() == spark.read.parquet(store).count()
    # the exact and near dedup stages both drop rows in this corpus, so
    # each tally comes from its own frame
    assert tally["after_near_dedup"] < tally["after_exact_dedup"] < tally["after_quality"]

    empty = spark.createDataFrame(
        pa.table({"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string())}))
    assert ingest(spark, empty, str(tmp_path / "empty"), embed_dim=8) == {
        "raw": 0, "after_quality": 0, "after_exact_dedup": 0, "after_near_dedup": 0}
    assert spark.read.parquet(str(tmp_path / "empty")).count() == 0


def test_near_dedup_reads_a_rewritten_landing_file(spark, tmp_path):
    """A second ingest of a landing file rewritten in between dedups the
    new contents: the MinHash signatures are kept out of the session's
    CacheManager, so an ingest leaves it empty and no later plan over the
    same path is handed the old file's signatures."""
    jcm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    landing, store = str(tmp_path / "landing.parquet"), str(tmp_path / "store")
    doc1 = " ".join(f"w{i}" for i in range(40))
    doc3 = " ".join(f"y{i}" for i in range(40))

    pq.write_table(pa.table({"doc_id": [1, 2, 3],
                             "text": [doc1, " ".join(f"x{i}" for i in range(40)), doc3]}), landing)
    assert ingest(spark, spark.read.parquet(landing), store, embed_dim=8)["after_near_dedup"] == 3

    # doc 2 becomes doc 1 with its last token changed: a near duplicate
    pq.write_table(pa.table({"doc_id": [1, 2, 3],
                             "text": [doc1, doc1.replace("w39", "z39"), doc3]}), landing)
    assert ingest(spark, spark.read.parquet(landing), store, embed_dim=8)["after_near_dedup"] == 2
    assert jcm.isEmpty()
