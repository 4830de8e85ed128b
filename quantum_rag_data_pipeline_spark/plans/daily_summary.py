"""The flagship pipeline: per-day ERCOT+weather summary → sentence →
embedding → keyed upsert (reference §3.1, src/main.py:239-378).

Where the reference runs a python asyncio loop with one task per day,
this plan is ONE lazy DataFrame DAG over all days:

    sources (6 endpoints × all days, long form)
      → permissive cast (P2) → per-(endpoint, day) aggregate (A1/A2)
      → N-way join on day (J2; every aggregate is 1 row/day → broadcast)
      → left join weather (missing weather proceeds, missing ERCOT
        aborts the row — reference sentence_builder.py:122-127)
      → derived renewables (P8) → 11-line sentence (U2, pure expression)
      → pandas_udf embedding (U1) → parquet/JDBC upsert by vector_id (K1)

The DAG runs once per call. Its inputs (the envelopes and the day spine)
are JVM local relations, so no stage waits on Python workers except the
embedding UDF, and ``run_daily_summary_pipeline`` takes its row count from
the tally ``parquet_upsert`` observes during its write instead of
re-running the DAG with a second action.

At 100 TB the only changes are at the edges: envelopes land as
date-partitioned JSON files read by ``envelope_files_to_df`` (partition
pruning + parallel parse), and the sink becomes the JDBC upsert writer.
The middle of the DAG is already scale-ready: per-day aggregates are
partial-aggregable, the day-level joins are trivially broadcast, and the
embedding UDF batches via Arrow.
"""

from __future__ import annotations

from datetime import date, timedelta

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.functions.embedding import make_embed_udf, scrubbed_for_embedding
from quantum_rag_data_pipeline_spark.functions.formatting import semantic_sentence
from quantum_rag_data_pipeline_spark.sources.ercot import ErcotQueries

#: the fixed metric catalog (reference src/main.py:101-108,122-125,
#: 140-144,159-162,180-183,203-205): endpoint → [(field, method, alias)]
METRIC_CATALOG: dict[str, list[tuple[str, str, str]]] = {
    "gen_summary": [
        ("sumBasePointNonIRR", "average", "sum_base_point_non_irr"),
        ("sumHASLNonIRR", "average", "sum_hasl_non_irr"),
        ("sumLASLNonIRR", "average", "sum_lasl_non_irr"),
        ("sumBasePointWGR", "sum", "wind_sum"),
        ("sumBasePointPVGR", "sum", "solar_sum"),
        ("sumBasePointREMRES", "sum", "remres_sum"),
    ],
    "load_summary": [
        ("aggLoadSummary", "average", "agg_load_summary"),
        ("sumTelemGenMW", "average", "sum_telem_gen_mw"),
    ],
    "output_schedule": [
        ("sumOutputSched", "average", "sum_output_sched"),
        ("sumLSLOutputSched", "average", "sum_lsl_output_sched"),
        ("sumHSLOutputSched", "average", "sum_hsl_output_sched"),
    ],
    "dsr_loads": [
        ("sumTelemDSRLoad", "average", "sum_telem_dsr_load"),
        ("sumTelemDSRGen", "average", "sum_telem_dsr_gen"),
    ],
    "ancillary_ecrss": [
        ("MWOffered", "max", "mw_offered"),
        ("ECRSSOfferPrice", "average", "ecrss_offer_price"),
    ],
    "dam_hubavg_price": [
        ("settlementPointPrice", "average", "dam_avg_price_raw"),
    ],
}


def day_windows(start: str, end: str) -> list[tuple[str, str]]:
    """[(d, d+1) for d in [start, end)) — the reference's 2-day windows
    with 1-day slide (src/main.py:288-303,341-369)."""
    d0, d1 = date.fromisoformat(start), date.fromisoformat(end)
    out = []
    d = d0
    while d < d1:
        out.append((d.isoformat(), (d + timedelta(days=1)).isoformat()))
        d += timedelta(days=1)
    return out


def aggregate_endpoint(df: DataFrame, catalog: list[tuple[str, str, str]]) -> DataFrame:
    """A1 with the reference's semantics: permissive cast per cell (P2),
    missing field → NULL metric (P3 → N/A downstream), zero parseable
    values → 0.0 (src/main.py:90-91)."""
    aggs = []
    for field, method, alias in catalog:
        if field in df.columns:
            c = F.col(field).try_cast("double")
            if method == "average":
                agg = F.avg(c)
            elif method == "max":
                agg = F.max(c)
            else:
                agg = F.sum(c)
            aggs.append(F.coalesce(agg, F.lit(0.0)).alias(alias))
        else:
            aggs.append(F.max(F.lit(None).cast("double")).alias(alias))
    return df.groupBy("date_from").agg(*aggs)


def fetch_all_endpoints(
    spark: SparkSession, queries: ErcotQueries, start: str, end: str
) -> dict[str, DataFrame]:
    """Driver-side fetch of every (endpoint, day-window) envelope → one
    long DataFrame per endpoint tagged with date_from. Payloads are page-
    sized (100 rows); at scale this step is replaced by a partitioned
    JSON landing zone (see module docstring)."""
    fetchers = {
        "load_summary": queries.load_summary,
        "dsr_loads": queries.dsr_loads,
        "gen_summary": queries.gen_summary,
        "output_schedule": queries.output_schedule,
        "ancillary_ecrss": lambda a, b: queries.as_offers(a, b, "ecrss"),
        "dam_hubavg_price": queries.dam_prices,
    }
    out: dict[str, DataFrame] = {}
    for name, fetch in fetchers.items():
        parts = []
        for date_from, date_to in day_windows(start, end):
            df = fetch(date_from, date_to).withColumn("date_from", F.lit(date_from))
            parts.append(df)
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p, allowMissingColumns=True)
        out[name] = unioned
    return out


def build_daily_summaries(
    spark: SparkSession,
    queries: ErcotQueries,
    weather_daily_avg: DataFrame | None,
    start: str,
    end: str,
    encoder=None,
    embed_dim: int = 1536,
) -> DataFrame:
    """Returns one row per day: (vector_id, semantic_sentence, embedding,
    updated_at) — the pgvector sink row (FIXTURES.md §4)."""
    endpoints = fetch_all_endpoints(spark, queries, start, end)
    per_endpoint = {
        name: aggregate_endpoint(df, METRIC_CATALOG[name]) for name, df in endpoints.items()
    }
    # day spine from the window list: each endpoint aggregate LEFT-joins
    # onto it — a day missing from ONE endpoint keeps its row with NULL
    # metrics (→ N/A in the sentence), matching the reference, where
    # extract_field_values returns {} for an empty envelope but the day's
    # sentence still renders (src/main.py + sentence_builder N/A paths).
    # Only a day with data from NO endpoint at all is aborted — the
    # reference's fetch-returned-None case.
    # (a JVM local relation, like the envelopes: see sources.ercot)
    windows = day_windows(start, end)
    days = spark.createDataFrame(
        pa.table({"date_from": [a for a, _ in windows], "date_to": [b for _, b in windows]}),
        "date_from string, date_to string",
    )
    joined = days
    markers = []
    for name, agg in per_endpoint.items():
        marker = f"_has_{name}"
        markers.append(marker)
        joined = joined.join(
            F.broadcast(agg.withColumn(marker, F.lit(1))), "date_from", "left"
        )
    joined = joined.filter(
        F.greatest(*[F.col(m).isNotNull() for m in markers])
    ).drop(*markers)
    # DAM price parity (src/main.py:207): a falsy average (0.0 or missing)
    # renders N/A, not "0.00 $/MWh"; bround = Python round() half-even.
    raw_dam = F.col("dam_avg_price_raw")
    joined = joined.withColumn(
        "dam_avg_price",
        F.when(raw_dam.isNotNull() & (raw_dam != 0.0), F.bround(raw_dam, 2)),
    )
    if weather_daily_avg is not None:
        w = weather_daily_avg.select(F.col("date").cast("string").alias("date_from"), "avg_temp_c")
        joined = joined.join(F.broadcast(w), "date_from", "left")
    else:
        joined = joined.withColumn("avg_temp_c", F.lit(None).cast("double"))

    sentence = semantic_sentence(
        date_from=F.col("date_from"),
        date_to=F.col("date_to"),
        agg_load_summary=F.col("agg_load_summary"),
        sum_telem_gen_mw=F.col("sum_telem_gen_mw"),
        dam_avg_price=F.col("dam_avg_price"),
        wind_sum=F.col("wind_sum"),
        solar_sum=F.col("solar_sum"),
        remres_sum=F.col("remres_sum"),
        mw_offered=F.col("mw_offered"),
        sum_telem_dsr_load=F.col("sum_telem_dsr_load"),
        sum_output_sched=F.col("sum_output_sched"),
        sum_lsl_output_sched=F.col("sum_lsl_output_sched"),
        sum_hsl_output_sched=F.col("sum_hsl_output_sched"),
        sum_base_point_non_irr=F.col("sum_base_point_non_irr"),
        sum_hasl_non_irr=F.col("sum_hasl_non_irr"),
        sum_lasl_non_irr=F.col("sum_lasl_non_irr"),
        avg_temp_c=F.col("avg_temp_c"),
    )
    embed = make_embed_udf(encoder, embed_dim)
    return joined.select(
        F.concat(F.lit("daily_summary_"), F.col("date_from")).alias("vector_id"),
        sentence.alias("semantic_sentence"),
        F.col("date_from"),
    ).withColumn(
        "embedding", embed(scrubbed_for_embedding(F.col("semantic_sentence")))
    ).withColumn("updated_at", F.current_timestamp())


def run_daily_summary_pipeline(
    spark: SparkSession,
    queries: ErcotQueries,
    weather_daily_avg: DataFrame | None,
    start: str,
    end: str,
    sink_path: str,
    encoder=None,
    embed_dim: int = 1536,
) -> int:
    """End-to-end: build + upsert. Returns the number of summary rows.
    Idempotent: re-running any window leaves the sink unchanged modulo
    updated_at (K1 semantics).

    The DAG runs once: the row count is the ``attempted`` tally the sink
    observes during its write, not a second action that would re-run every
    aggregate, the embedding and the sink merge."""
    from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert

    rows = build_daily_summaries(spark, queries, weather_daily_avg, start, end, encoder, embed_dim)
    out = rows.select("vector_id", "embedding", "semantic_sentence", "updated_at")
    return parquet_upsert(spark, out, sink_path, ["vector_id"], version_col="updated_at")["attempted"]
