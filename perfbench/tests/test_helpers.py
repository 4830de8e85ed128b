"""Self-tests of the benchmark's helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


# -- the percentile rule ------------------------------------------------------------

def test_median_needs_ten_samples_beyond_it():
    assert harness.percentile([1.0] * 19, 50) is None
    assert harness.percentile([float(i) for i in range(20)], 50) == 9.5


def test_tail_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(100)]
    assert harness.percentile(values, 90) == 89.0   # 10 samples above
    assert harness.percentile(values, 95) is None   # only 5 above
    assert harness.percentile(values[:99], 90) is None


# -- failed_ratio accounting ------------------------------------------------------------

def test_tally_counts_exceptions_and_check_mismatches():
    t = harness.Tally()
    assert t.run("ok", lambda: 3) == (True, 3)
    ok, out = t.run("boom", lambda: 1 / 0)
    assert (ok, out) == (False, None)
    assert t.check("holds", True)
    assert not t.check("mismatch", False, "2 != 3")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_ratio == 0.5
    assert t.reasons[0].startswith("boom: ZeroDivisionError")
    assert t.reasons[1] == "mismatch: 2 != 3"


def test_empty_tally_has_zero_failed_ratio():
    assert harness.Tally().failed_ratio == 0.0


# -- span self time --------------------------------------------------------------------------

def _span(i, name, parent, start, end):
    return Span(i, name, parent, "r", start, end)


def test_self_time_subtracts_children():
    spans = [_span(0, "bench.pass", None, 0.0, 10.0),
             _span(1, "plans.rag_ingest.ingest", 0, 1.0, 6.0),
             _span(2, "sinks.upsert.parquet_upsert", 1, 2.0, 5.0),
             _span(3, "bench.check", 0, 7.0, 8.0)]
    selfs = tracing.self_times(spans)
    assert selfs == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert sum(selfs.values()) == pytest.approx(spans[0].duration)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, "a", None, 0.0, 10.0),
             _span(1, "b", 0, 1.0, 5.0),
             _span(2, "c", 0, 4.0, 6.0)]
    assert tracing.self_times(spans)[0] == pytest.approx(5.0)


def test_layer_table_self_times_sum_to_the_root():
    spans = [_span(0, "bench.pass", None, 0.0, 10.0),
             _span(1, "plans.rag_ingest.ingest", 0, 1.0, 6.0),
             _span(2, "operators.dedup.exact_dedup:count", 1, 2.0, 3.0)]
    table = tracing.layer_table(spans, tracing.self_times(spans), {})
    assert table["operators.dedup"]["self_s"] == pytest.approx(1.0)
    assert sum(r["self_s"] for r in table.values()) == pytest.approx(10.0)


def test_layer_of_uses_the_most_specific_prefix():
    assert tracing.layer_of("operators.dedup.near_dedup:count") == "operators.dedup"
    assert tracing.layer_of("sources.ercot.fetch") == "sources.ercot"
    assert tracing.layer_of("queries.exec") == "queries"
    assert tracing.layer_of("somewhere.else") == "other"


# -- job-to-span attribution ------------------------------------------------------------------

def _job(job_id, t, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": int(t * 1000), "Stage IDs": stages}


def _task(stage, launch, run_ms=100, cpu_ns=50_000_000, read=0, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": int(launch * 1000)},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def test_jobs_go_to_the_innermost_open_span():
    spans = [_span(0, "bench.pass", None, 100.0, 120.0),
             _span(1, "plans.rag_ingest.ingest", 0, 101.0, 110.0),
             _span(2, "sinks.upsert.parquet_upsert", 1, 105.0, 109.0)]
    events = [_job(0, 102.0, [0]), _task(0, 102.1), _task(0, 102.2),
              _job(1, 106.0, [1, 2]), _task(1, 106.1, written=10), _task(2, 107.0, read=10),
              _job(2, 115.0, [3]), _task(3, 115.1),
              _job(3, 130.0, [4]), _task(4, 130.1)]
    work = tracing.attribute_jobs(events, spans)
    assert work[1]["jobs"] == 1 and work[1]["tasks"] == 2
    assert work[2]["jobs"] == 1 and work[2]["stages"] == 2
    assert work[2]["shuffle_write_bytes"] == 10 and work[2]["shuffle_read_bytes"] == 10
    assert work[0]["jobs"] == 1
    assert work[None]["jobs"] == 1  # after every span closed
    assert work[1]["executor_run_s"] == pytest.approx(0.2)
    assert work[1]["executor_cpu_s"] == pytest.approx(0.1)
    total = tracing.sum_spark(work, [0, 1, 2])
    assert total["jobs"] == 3 and total["tasks"] == 5


def test_a_task_belongs_to_the_latest_job_listing_its_stage():
    spans = [_span(0, "a", None, 0.0, 5.0), _span(1, "b", None, 5.0, 10.0)]
    # stage 7 is listed by both jobs (a reused shuffle); its task ran in the second
    events = [_job(0, 1.0, [7]), _job(1, 6.0, [7, 8]), _task(7, 6.5), _task(8, 6.6)]
    work = tracing.attribute_jobs(events, spans)
    assert work[0]["tasks"] == 0 and work[1]["tasks"] == 2


def test_thread_groups():
    assert harness.thread_group("C2 CompilerThre") == "jit"
    assert harness.thread_group("C1 CompilerThre") == "jit"
    assert harness.thread_group("GC Thread#3") == "gc"
    assert harness.thread_group("G1 Conc#0") == "gc"
    assert harness.thread_group("Executor task l") == "task"
    assert harness.thread_group("dispatcher-even") == "other"
