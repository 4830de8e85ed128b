"""Assertions over a DataFrame's physical plan and the jobs a call runs,
shared by the tests."""

import contextlib
import io
import uuid


def assert_no_python_rdd_scan(df) -> str:
    """Fail if ``df``'s physical plan scans a Python RDD, and return the
    plan text. ``createDataFrame`` from local Python rows compiles to a
    ``Scan ExistingRDD`` over ``applySchemaToPythonRDD``: every job that
    reads it waits on Python workers to unpickle the rows. An Arrow table,
    a pandas frame or ``spark.range`` plans as a JVM-side scan instead.
    The plan is read through the public ``explain`` API; after an action
    on ``df`` it is the executed (final adaptive) plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    for marker in ("ExistingRDD", "applySchemaToPythonRDD"):
        assert marker not in plan, plan
    return plan


def jobs_of(spark, fn):
    """``fn()`` under a fresh job group; returns (its result, its job count)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
