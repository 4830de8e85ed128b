"""Golden end-to-end test (SURVEY.md §5.2-2): reproduce the published
2025-05-08 sample (reference RELEVANT_ERCOT_APIS.md:57-69) byte-for-byte
through the full pipeline — fixture envelopes → aggregate → join →
sentence → fake embedding → upsert."""

import math

import pytest
from plan_checks import assert_no_python_rdd_scan, jobs_of
from pyspark.sql import functions as F

from quantum_rag_data_pipeline_spark.plans.daily_summary import (
    METRIC_CATALOG,
    build_daily_summaries,
    run_daily_summary_pipeline,
)
from quantum_rag_data_pipeline_spark.sinks.upsert import parquet_upsert
from quantum_rag_data_pipeline_spark.sources.ercot import ENDPOINTS, ErcotQueries

GOLDEN = """ISO: ERCOT
Date_from: 2025-05-08
Date_to:   2025-05-09
Avg system load: 51405 MW
Telemetry generation: 51438 MW
DAM HubAvg price: 32.53 $/MWh
Renewables: 16993 MW (wind 5490 MW | solar 7655 MW | other 3847 MW) (33%)
ECRSS max offer: 4404 MW
DSR load: 219 MW
SCED dispatchable: 4270 MW (headroom LSL 2997 MW | HSL 16380 MW)
Base-point non-intermittent: 34502 MW (SH 41011 MW | SL 19636 MW)
Avg Texas temp: 21.9 °C"""

# per-day metric targets inverted from the golden sample (FIXTURES.md §2).
# avg-metrics feed constant rows; sum-metrics feed total/96 per row.
# components chosen so wind+solar+other avg = 16992.9 → "16993 MW" while
# each component rounds to the published integer.
TARGETS = {
    "gen_summary": {
        "sumBasePointNonIRR": ("average", 34502.0),
        "sumHASLNonIRR": ("average", 41011.0),
        "sumLASLNonIRR": ("average", 19636.0),
        "sumBasePointWGR": ("sum", 5490.4 * 96),
        "sumBasePointPVGR": ("sum", 7655.3 * 96),
        "sumBasePointREMRES": ("sum", 3847.2 * 96),
    },
    "load_summary": {
        "aggLoadSummary": ("average", 51405.0),
        "sumTelemGenMW": ("average", 51438.0),
    },
    "output_schedule": {
        "sumOutputSched": ("average", 4270.0),
        "sumLSLOutputSched": ("average", 2997.0),
        "sumHSLOutputSched": ("average", 16380.0),
    },
    "dsr_loads": {
        "sumTelemDSRLoad": ("average", 219.0),
        "sumTelemDSRGen": ("average", 100.0),
    },
    "ancillary_ecrss": {
        "MWOffered": ("max", 4404.0),
        "ECRSSOfferPrice": ("average", 12.0),
    },
    "dam_hubavg_price": {
        "settlementPointPrice": ("average", 32.53),
    },
}

ENDPOINT_BY_ROUTE = {
    ENDPOINTS["load_summary"]: "load_summary",
    ENDPOINTS["dsr_loads"]: "dsr_loads",
    ENDPOINTS["gen_summary"]: "gen_summary",
    ENDPOINTS["output_schedule"]: "output_schedule",
    ENDPOINTS["as_offers"].format(service_type="ecrss"): "ancillary_ecrss",
    ENDPOINTS["dam_prices"]: "dam_hubavg_price",
}


class GoldenClient:
    """Envelope fixtures that aggregate exactly to the golden numbers."""

    def get_data(self, endpoint: str, params: dict) -> dict:
        name = ENDPOINT_BY_ROUTE[endpoint]
        targets = TARGETS[name]
        fields = list(targets)
        rows = 96
        data = []
        for _ in range(rows):
            rec = []
            for f in fields:
                method, target = targets[f]
                rec.append(target / rows if method == "sum" else target)
            data.append(rec)
        return {"fields": [{"name": f} for f in fields], "data": data}


@pytest.fixture()
def golden_queries(spark):
    return ErcotQueries(spark, GoldenClient())


def _weather(spark):
    return spark.createDataFrame([("2025-05-08", 21.9)], "date string, avg_temp_c double") \
        .select(F.to_date("date").alias("date"), "avg_temp_c")


def test_golden_sentence_byte_for_byte(spark, golden_queries):
    df = build_daily_summaries(
        spark, golden_queries, _weather(spark), "2025-05-08", "2025-05-09", embed_dim=32
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["vector_id"] == "daily_summary_2025-05-08"
    assert rows[0]["semantic_sentence"] == GOLDEN
    emb = rows[0]["embedding"]
    assert len(emb) == 32
    assert abs(sum(v * v for v in emb) - 1.0) < 1e-3  # unit-normalized fake


def test_missing_weather_gives_na(spark, golden_queries):
    df = build_daily_summaries(
        spark, golden_queries, None, "2025-05-08", "2025-05-09", embed_dim=8
    )
    sentence = df.collect()[0]["semantic_sentence"]
    assert "Avg Texas temp: N/A" in sentence
    # everything else still renders
    assert "Avg system load: 51405 MW" in sentence


def test_pipeline_upsert_idempotent(spark, golden_queries, tmp_path):
    sink = str(tmp_path / "embeddings_sink")
    n1 = run_daily_summary_pipeline(
        spark, golden_queries, _weather(spark), "2025-05-08", "2025-05-09", sink, embed_dim=8
    )
    first = {r["vector_id"]: r["semantic_sentence"] for r in spark.read.parquet(sink).collect()}
    n2 = run_daily_summary_pipeline(
        spark, golden_queries, _weather(spark), "2025-05-08", "2025-05-09", sink, embed_dim=8
    )
    second = {r["vector_id"]: r["semantic_sentence"] for r in spark.read.parquet(sink).collect()}
    assert n1 == n2 == 1
    assert first == second  # same sink state modulo updated_at (K1)


def test_built_summary_scans_no_python_rdd(spark, golden_queries):
    """Envelopes, the day spine and the fake weather are JVM local
    relations: after the build runs, the only Python stage in its plan is
    the embedding UDF."""
    from quantum_rag_data_pipeline_spark.sources.weather import (
        daily_avg_temperature,
        fake_daily_weather,
    )

    weather = daily_avg_temperature(fake_daily_weather(spark, "2025-05-08", "2025-05-09"))
    df = build_daily_summaries(
        spark, golden_queries, weather, "2025-05-08", "2025-05-09", embed_dim=8
    )
    df.collect()
    plan = assert_no_python_rdd_scan(df)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


class EmptyClient:
    """Every endpoint answers with its header and no records."""

    def get_data(self, endpoint: str, params: dict) -> dict:
        fields = TARGETS[ENDPOINT_BY_ROUTE[endpoint]]
        return {"fields": [{"name": f} for f in fields], "data": []}


def test_pipeline_runs_its_dag_once(spark, golden_queries, tmp_path):
    """The row count rides the upsert's write: a pipeline call runs exactly
    the jobs of a bare upsert of the same built frame (a closing count()
    re-ran the whole DAG, doubling them). A window in which every endpoint
    is empty returns 0 and writes no rows."""
    args = (spark, golden_queries, _weather(spark), "2025-05-08", "2025-05-09")
    n, pipeline_jobs = jobs_of(
        spark, lambda: run_daily_summary_pipeline(*args, str(tmp_path / "sink"), embed_dim=8))
    built = build_daily_summaries(*args, embed_dim=8).select(
        "vector_id", "embedding", "semantic_sentence", "updated_at")
    _, upsert_jobs = jobs_of(spark, lambda: parquet_upsert(
        spark, built, str(tmp_path / "bare"), ["vector_id"], version_col="updated_at"))
    assert n == 1
    assert pipeline_jobs == upsert_jobs > 0

    empty = str(tmp_path / "empty")
    assert run_daily_summary_pipeline(
        spark, ErcotQueries(spark, EmptyClient()), None, "2025-05-08", "2025-05-10", empty,
        embed_dim=8) == 0
    assert spark.read.parquet(empty).count() == 0
