"""Entry-point contract (PySpark target).

A verifier runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash; ``tools/check_correctness.py`` does the same locally).

Implementation lives in ``big_data_analysis_for_stock_market_data_spark.queries``;
this module only adapts it to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_analysis_for_stock_market_data_spark import queries as _registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _registry.flagship_label_daily(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
