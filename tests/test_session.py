"""Session confs the engine pins on any session it is handed."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F
from pyspark.errors import AnalysisException, ArithmeticException

from distributed_system_spark.session import tune_session


def test_tune_session_pins_ansi(spark):
    """An ANSI-off caller session gets ANSI back from tune_session, so
    an out-of-range decimal cast raises instead of returning NULL."""
    sql = "SELECT CAST(12345678.9 AS DECIMAL(8,2)) AS d"
    was = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        assert spark.sql(sql).collect()[0].d is None
        tune_session(spark)
        with pytest.raises(ArithmeticException):
            spark.sql(sql).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", was)


def test_errors_keep_their_class_without_origin_capture(spark):
    """RUNTIME_CONF turns off PySpark's per-call Python call-site
    capture (a py4j round-trip tax on every Column call); a bad column
    still raises the same classified error, only without the Python
    file:line in its query context."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_col")).schema
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
