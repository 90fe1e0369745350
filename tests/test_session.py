"""Session settings that query latency depends on (session.get_spark)."""

import sys


def test_call_site_capture_is_off(spark):
    """get_spark turns off PySpark's per-call call-site capture, so a
    Column operation makes no py4j round trips for it and IPython is
    never imported for it."""
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a") + F.lit(1)
    assert is_debugging_enabled() is False
    assert "IPython" not in sys.modules
