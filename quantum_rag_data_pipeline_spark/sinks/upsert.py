"""Idempotent keyed upsert sinks (K1/K2).

The reference upserts one row per transaction into pgvector with
``INSERT ... ON CONFLICT (vector_id) DO UPDATE`` (pgvector_storage.py:
99-116) — idempotent by PK. Spark's JDBC writer has no native upsert, so:

- ``parquet_upsert`` — file-backed MERGE-equivalent used by tests and
  local pipelines: union new rows with existing, keep the newest row per
  key. Atomic via write-to-staging + swap. The one sink the pipelines
  write through; it returns a tally observed during its own write.
- ``jdbc_upsert_writer`` — ``foreachPartition`` psycopg2 ``execute_values``
  upsert (batched, reference page_size=100 at pgvector_storage.py:140),
  import-gated so environments without psycopg2 still import this module.

Re-running a window is safe in both: at-least-once + keyed dedup =
exactly-once-effective output (SURVEY.md §2.7) — the vector_id
``daily_summary_{date}`` is the natural dedup key.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _observed(obs: Observation) -> dict:
    """``obs``'s metrics once its action has finished, ``{}`` if it has
    none: an input with no partitions (an empty local relation) runs no
    task under a shuffle, and AQE drops that stage together with its
    metrics node, which can only mean no row was observed."""
    return obs.get if obs._jo.getRow().length() else {}


def parquet_upsert(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str | None = None,
    validity_col: str | None = None,
) -> dict:
    """MERGE-equivalent over a parquet table: newest row per key wins.
    ``version_col`` (e.g. updated_at) breaks ties; new rows outrank
    existing rows at equal versions. Returns the A6 tally (reference
    dynamodb.py:185-228) ``{"attempted", "succeeded", "failed"}`` from an
    ``Observation`` that rides the write — zero extra pass; the reference
    re-iterates its results. ``validity_col`` is a boolean column marking
    rows the sink accepts; invalid rows are filtered out and counted. An
    empty input tallies 0 in every count."""
    obs = Observation("sink_tally")
    valid = F.col(validity_col) if validity_col else F.lit(True)
    new_rows = (
        new_rows.observe(
            obs,
            F.count(F.lit(1)).alias("attempted"),
            F.count(F.when(valid, 1)).alias("succeeded"),
            F.count(F.when(~valid, 1)).alias("failed"),
        )
        .filter(valid)
        .drop(*([validity_col] if validity_col else []))
        .withColumn("_src_rank", F.lit(1))
    )
    if os.path.exists(path):
        # read in new_rows' session, so the merge's write runs in the session
        # obs was registered with: only that session completes it (a
        # foreachBatch micro-batch has a session of its own)
        existing = new_rows.sparkSession.read.parquet(path).withColumn("_src_rank", F.lit(0))
        merged = existing.unionByName(new_rows)
    else:
        merged = new_rows
    order = ([F.col(version_col).desc_nulls_last()] if version_col else []) + [F.col("_src_rank").desc()]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    deduped = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_rank")
    )
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    deduped.write.mode("overwrite").parquet(staging)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(staging, path)
    # the session caches parquet file listings per path; the swap above
    # invalidated them
    spark.catalog.refreshByPath(path)
    return {"attempted": 0, "succeeded": 0, "failed": 0} | _observed(obs)


def jdbc_upsert_writer(
    table: str,
    key_cols: list[str],
    all_cols: list[str],
    dsn: str,
    page_size: int = 100,
):
    """Returns a foreachPartition function doing batched ON CONFLICT
    upserts. Executor-side import of psycopg2 (gated)."""
    non_keys = [c for c in all_cols if c not in key_cols]
    set_clause = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
    sql = (
        f"INSERT INTO {table} ({', '.join(all_cols)}) VALUES %s "
        f"ON CONFLICT ({', '.join(key_cols)}) DO UPDATE SET {set_clause}"
    )

    def write_partition(rows) -> None:
        try:
            import psycopg2
            from psycopg2.extras import execute_values
        except ImportError as e:  # pragma: no cover - env without psycopg2
            raise RuntimeError("jdbc_upsert_writer requires psycopg2 on executors") from e
        batch = [tuple(getattr(r, c) for c in all_cols) for r in rows]
        if not batch:
            return
        conn = psycopg2.connect(dsn)
        try:
            with conn.cursor() as cur:
                execute_values(cur, sql, batch, page_size=page_size)
            conn.commit()
        finally:
            conn.close()

    return write_partition
