"""``corpus``: the document corpus worked two ways in one session — the
RAG ingest, delta ingest and top-k serving, then the corpus query mix.

Both phases use the dedup and similarity operators, so one session pays
the JVM start and the JIT warm-up of that shared code once. Both are
bound by per-job overhead: a pass runs about 180 small Spark jobs. Each
phase keeps its own named metrics; ``pass_s`` is the sum of the two
phases' pass walls.
"""

from __future__ import annotations

from workloads import query_mix, rag_ingest

PHASES = (rag_ingest, query_mix)


def prepare(ctx) -> dict:
    states = [p.prepare(ctx) for p in PHASES]
    return {"phases": states,
            "inputs": {p.__name__.rsplit(".", 1)[-1]: s["inputs"] for p, s in zip(PHASES, states)}}


def warm(ctx, state) -> None:
    # the oracle pass first: it warms the dedup and similarity operators
    # the ingest shares, so one warm ingest and delta are enough
    for p, s in reversed(list(zip(PHASES, state["phases"]))):
        p.warm(ctx, s)


def measure(ctx, state) -> dict:
    results = [p.measure(ctx, s) for p, s in zip(PHASES, state["phases"])]
    return {"pass_s": sum(r["pass_s"] for r in results),
            "named": {k: v for r in results for k, v in r["named"].items()}}


def layer_counts(ctx, state) -> dict:
    out: dict = {}
    for p, s in zip(PHASES, state["phases"]):
        out.update(p.layer_counts(ctx, s))
    return out
