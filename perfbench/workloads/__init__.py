"""The benchmark's workloads: ``daily_backfill``, and ``corpus``, which
runs the ``rag_ingest`` and ``query_mix`` phases in one session. Each
workload and phase module exposes

- ``prepare(ctx) -> state``: build the seeded inputs (part of set-up).
  It runs while the Spark session starts, so it must not use ``ctx.spark``;
- ``warm(ctx, state)``: untimed passes at the timed size that warm the JIT
  and the Python workers and check the outputs (part of set-up);
- ``measure(ctx, state) -> dict``: the timed pass, repeated until
  ``ctx.seconds`` have passed and at least once (0 in a traced run, so it
  runs once); returns ``pass_s`` (median pass wall) and
  the workload's ``named`` metrics as ``{name: [value, unit]}``;
- ``layer_counts(ctx, state) -> dict``: counts for the traced run that
  need an extra job, taken after the timed pass.
"""

from __future__ import annotations

import os
import statistics
import time

from workloads import corpus, daily_backfill

WORKLOADS = {"daily_backfill": daily_backfill, "corpus": corpus}


def data_root() -> str:
    """Directory holding the ``sf*`` table directories: the parent of the
    engine's default table directory (``SPARK_GRAFT_SF_DIR`` moves it)."""
    from quantum_rag_data_pipeline_spark.sources.registry import default_sf_dir

    return os.path.dirname(default_sf_dir().rstrip("/"))


def repeat_for(seconds: float, step) -> int:
    """Call ``step(i)`` until ``seconds`` have passed, at least once."""
    t0, i = time.perf_counter(), 0
    while i < 1 or time.perf_counter() - t0 < seconds:
        step(i)
        i += 1
    return i


def median(values: list[float]) -> float:
    """Median of the values; 0.0 when every attempt failed (the run is
    then reported as incorrect anyway)."""
    return statistics.median(values) if values else 0.0


def rate(items: int, seconds: float) -> float:
    return items / seconds if seconds > 0 else 0.0


def timed(tally, name: str, fn, *args, **kwargs):
    """One attempted operation and its wall time: (ok, result, seconds)."""
    t0 = time.perf_counter()
    ok, out = tally.run(name, fn, *args, **kwargs)
    return ok, out, time.perf_counter() - t0
