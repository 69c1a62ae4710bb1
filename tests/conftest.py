import tempfile

import pytest

from big_data_analysis_for_stock_market_data_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="engine_tests",
        master="local[4]",
        shuffle_partitions=4,
        configs={
            # bucketed-table tests use saveAsTable; keep the warehouse out
            # of the repo tree
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="engine_wh_"),
        },
    )
    yield s


@pytest.fixture
def spark_conf(spark):
    """``spark_conf(key, value)`` sets a session conf for this test only;
    every key it touched is restored (or unset) afterwards."""
    saved: dict[str, str | None] = {}

    def set_conf(key: str, value) -> None:
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, str(value))

    yield set_conf
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)
