"""``query_mix``: a fixed list of corpus queries at sf0.01, each forced
through the noop sink with the session cache cleared before it (the
engine's cache contract). The seed sets the order.

The list holds an open performance target with eager build-time jobs,
a consumer of the blocked-gram similarity kernel, a streaming query and
a light join that exposes the per-query floor: where the similarity and
dedup operators, streaming and Catalyst are timed outside the ingest. It
uses no sink and no ERCOT source. The warm pass
compares every query with its DuckDB oracle twin, hashed the way
tools/oracle_check.py hashes.
"""

from __future__ import annotations

import os
import random
import sys

import harness
import workloads

SF = "sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
QUERIES = (
    # an open performance target: eager jobs while the query is built
    "dedup_pipeline_canonical",
    # a consumer of the blocked-gram similarity kernel (brute-force top-k
    # is the RAG serve path, timed in the ingest phase)
    "embedding_near_dup",
    # a streaming query, and a light join: the per-query floor
    "streaming_sliding_window", "j2_join_agg",
)


def _oracle_rows(con, sql: str):
    tab = con.execute(sql).arrow()
    cols = list(tab.schema.names)
    return cols, [tuple(d[c] for c in cols) for d in tab.to_pylist()]


def prepare(ctx) -> dict:
    """Seeded order, and every query's DuckDB oracle answer."""
    import duckdb
    from quantum_rag_data_pipeline_spark.queries import ORACLE

    sf_dir = os.path.join(workloads.data_root(), SF)
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    oracle = {}
    # one DuckDB thread: this runs beside the JVM start-up
    with duckdb.connect(config={"threads": 1}) as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in order:
            try:
                oracle[name] = _oracle_rows(con, ORACLE[name])
            except Exception as exc:  # noqa: BLE001 — counted as a failure in warm
                oracle[name] = exc
    return {"sf_dir": sf_dir, "order": order, "oracle": oracle,
            "inputs": {"scale": SF, "queries": len(order), "order": order}}


def _oracle_check(ctx, state, name: str) -> None:
    from oracle_check import table_hash
    from quantum_rag_data_pipeline_spark.queries import QUERIES as CORPUS

    def spark_side():
        sdf = CORPUS[name](ctx.spark, state["sf_dir"])
        cols = sdf.columns
        return cols, [tuple(d[c] for c in cols) for d in sdf.toArrow().to_pylist()]

    ctx.spark.catalog.clearCache()
    ok, got = ctx.tally.run(name, spark_side)
    want = state["oracle"][name]
    if isinstance(want, Exception):
        ctx.tally.check(f"{name} oracle runs", False, f"{type(want).__name__}: {want}")
        return
    if not ok:
        return
    (scols, srows), (dcols, drows) = got, want
    same = (len(srows) == len(drows)
            and sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols)
            and table_hash(scols, srows) == table_hash(dcols, drows))
    ctx.tally.check(f"{name} matches its oracle", same,
                    f"spark {len(srows)} rows vs oracle {len(drows)} rows or value hash differs")


def warm(ctx, state) -> None:
    """The oracle pass: every query once, compared with DuckDB."""
    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    for name in state["order"]:
        _oracle_check(ctx, state, name)


def catalyst_ms(qe) -> float:
    """Analysis + optimization + planning time of a query execution."""
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def _run_query(ctx, state, name: str) -> None:
    from quantum_rag_data_pipeline_spark.queries import QUERIES as CORPUS

    tracer = ctx.tracer
    with tracer.span("queries.build", query=name):
        df = CORPUS[name](ctx.spark, state["sf_dir"])
    if ctx.traced:
        with tracer.span("queries.plan", query=name) as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            s.attrs["catalyst_ms"] = catalyst_ms(qe)
    with tracer.span("queries.exec", query=name):
        df.write.mode("overwrite").format("noop").save()


def measure(ctx, state) -> dict:
    walls: list[float] = []
    sums: list[float] = []

    def one_pass(i: int) -> None:
        total = 0.0
        for name in state["order"]:
            ctx.spark.catalog.clearCache()
            _, _, dt = workloads.timed(ctx.tally, name, _run_query, ctx, state, name)
            walls.append(dt)
            total += dt
        sums.append(total)

    workloads.repeat_for(ctx.seconds, one_pass)
    mix = workloads.median(sums)
    named = {"query_mix_s": [mix, "s"], "query_p50_s": [harness.percentile(walls, 50), "s"],
             "queries_timed": [len(walls), "count"]}
    return {"pass_s": mix, "named": named}


def layer_counts(ctx, state) -> dict:
    return {}
