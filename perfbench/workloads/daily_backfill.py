"""``daily_backfill``: the ERCOT daily-summary pipeline over a seeded
window of days into an empty sink, fed by the engine's deterministic fake
ERCOT client (96 rows per endpoint-day, embedding dimension 1536).

The fake client seeds its values from the request parameters, so the
seeded start date changes the data while the shape stays fixed. Few rows,
many jobs: a pass runs 28 Spark jobs for two output rows (14 in the
upsert, 14 more in the closing count, which re-runs the DAG). The
envelopes become DataFrames through ``createDataFrame`` from local rows,
so the tasks wait on Python workers rather than spend executor CPU.
"""

from __future__ import annotations

import hashlib
import os
from datetime import date, timedelta

import numpy as np
import pyarrow.parquet as pq

import workloads

DAYS = 2
# the first pass after a single warm pass still ran 15-25 % slower than
# the next ones; after two, passes within a run agree to about 5 %
WARM_PASSES = 2
ROWS_PER_DAY = 96
DIM = 1536
SENTENCE_LINES = 12  # "ISO: ERCOT" and the template's 11 metric lines


class SpannedClient:
    """The fake client with each fetch in a ``sources.ercot.fetch`` span
    (a no-op when the run is not traced)."""

    def __init__(self, client, tracer):
        self.client, self.tracer = client, tracer

    def get_data(self, endpoint, params):
        with self.tracer.span("sources.ercot.fetch"):
            return self.client.get_data(endpoint, params)


def fields_by_endpoint() -> dict[str, list[str]]:
    """The fake client's field list per route, taken from the plan's
    metric catalog so every aggregated field is present."""
    from quantum_rag_data_pipeline_spark.plans.daily_summary import METRIC_CATALOG
    from quantum_rag_data_pipeline_spark.sources.ercot import ENDPOINTS

    route = {
        "load_summary": ENDPOINTS["load_summary"],
        "dsr_loads": ENDPOINTS["dsr_loads"],
        "gen_summary": ENDPOINTS["gen_summary"],
        "output_schedule": ENDPOINTS["output_schedule"],
        "ancillary_ecrss": ENDPOINTS["as_offers"].format(service_type="ecrss"),
        "dam_hubavg_price": ENDPOINTS["dam_prices"],
    }
    return {route[name]: [f for f, _, _ in cat] for name, cat in METRIC_CATALOG.items()}


def prepare(ctx) -> dict:
    from quantum_rag_data_pipeline_spark.sources.ercot import FakeErcotClient

    start = date(2022, 1, 1) + timedelta(days=ctx.seed % 1000)
    days = [(start + timedelta(days=i)).isoformat() for i in range(DAYS)]
    return {
        "client": SpannedClient(FakeErcotClient(fields_by_endpoint(), rows_per_day=ROWS_PER_DAY),
                                ctx.tracer),
        "start": days[0], "end": (start + timedelta(days=DAYS)).isoformat(), "days": days,
        "inputs": {"start": days[0], "days": DAYS, "rows_per_endpoint_day": ROWS_PER_DAY,
                   "endpoints": 6, "embed_dim": DIM},
    }


def _run(ctx, state, sink: str):
    from quantum_rag_data_pipeline_spark.plans.daily_summary import run_daily_summary_pipeline

    return workloads.timed(ctx.tally, "run_daily_summary_pipeline", run_daily_summary_pipeline,
                           ctx.spark, state["queries"], None, state["start"], state["end"], sink)


def _check(ctx, state, n: int, sink: str) -> str:
    """Check one pass's sink; returns the hash of its sentences."""
    tally = ctx.tally
    rows = pq.read_table(sink, columns=["vector_id", "semantic_sentence", "embedding"]).to_pylist()
    expected = sorted(f"daily_summary_{d}" for d in state["days"])
    tally.check("pipeline returns one row per day", n == DAYS, f"{n} != {DAYS}")
    tally.check("sink holds the expected vector ids",
                sorted(r["vector_id"] for r in rows) == expected)
    bad_lines = [r["vector_id"] for r in rows
                 if len(r["semantic_sentence"].split("\n")) != SENTENCE_LINES
                 or not r["semantic_sentence"].startswith("ISO: ERCOT\nDate_from: " + r["vector_id"][-10:])]
    tally.check(f"sentences have {SENTENCE_LINES} lines", not bad_lines, str(bad_lines))
    bad_vecs = [r["vector_id"] for r in rows
                if len(r["embedding"]) != DIM or abs(float(np.linalg.norm(r["embedding"])) - 1.0) > 1e-3]
    tally.check(f"embeddings are {DIM}-d unit vectors", not bad_vecs, str(bad_vecs))
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["vector_id"]):
        h.update(f"{r['vector_id']}\x01{r['semantic_sentence']}\n".encode())
    return h.hexdigest()


def warm(ctx, state) -> None:
    """Run the pipeline over the timed window into sinks of its own and
    check them; every timed pass must reproduce the first one's sentences."""
    from quantum_rag_data_pipeline_spark.sources.ercot import ErcotQueries

    state["queries"] = ErcotQueries(ctx.spark, state["client"])
    for i in range(WARM_PASSES):
        sink = os.path.join(ctx.data, f"warm_sink_{i}")
        ok, n, _ = _run(ctx, state, sink)
        if ok:
            state.setdefault("warm_hash", _check(ctx, state, n, sink))


def measure(ctx, state) -> dict:
    walls = []

    def one_pass(i: int) -> None:
        sink = os.path.join(ctx.data, f"sink_{i}")
        ok, n, dt = _run(ctx, state, sink)
        walls.append(dt)
        if ok:
            with ctx.tracer.span("bench.check"):
                state["hash"] = _check(ctx, state, n, sink)
                ctx.tally.check("each pass reproduces the warm pass's sentences",
                                state["hash"] == state.get("warm_hash"))

    passes = workloads.repeat_for(ctx.seconds, one_pass)
    wall = workloads.median(walls)
    return {"pass_s": wall,
            "named": {"backfill_days_per_s": [workloads.rate(DAYS, wall), "days/s"],
                      "backfill_s": [wall, "s"], "passes": [passes, "count"],
                      "sentence_sha256": [state.get("hash", ""), "hex"]}}


def plan_nodes(df) -> int:
    """Node count of the analyzed logical plan (children only)."""
    todo, n = [df._jdf.queryExecution().analyzed()], 0
    while todo:
        node = todo.pop()
        n += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return n


def layer_counts(ctx, state) -> dict:
    built = ctx.tracer.outputs.get("plans.daily_summary.build", [])
    return {"plans.daily_summary.plan_nodes": plan_nodes(built[-1])} if built else {}
