"""Assertions over a DataFrame's physical plan, shared by the tests."""

import contextlib
import io


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
