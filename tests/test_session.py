"""Session confs the engine pins on any session it is handed."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException

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
