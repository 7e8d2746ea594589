"""Session defaults of ``get_spark``."""

from __future__ import annotations


def test_dataframe_debugging_off(spark):
    """PySpark's per-Column call-site capture is off: it imports IPython on
    the first wrapped call and walks the stack on every one."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
