"""``read_parquet`` takes its schema from one footer read on the driver
instead of Spark's schema-inference job: building the scan submits no
Spark job, and the frame has the schema, column order and rows that
``spark.read.parquet`` gives, for every layout the engine reads."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from big_data_analysis_for_stock_market_data_spark.sources.io import (
    TABLE_NAMES,
    _nanos_to_timestamp,
    read_parquet,
)

SF = "/root/testdata/sf0.01"

needs_sf = pytest.mark.skipif(not os.path.isdir(SF), reason=f"testdata missing: {SF}")


def _jobs_submitted(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it submitted), counted
    under a job group."""
    sc = spark.sparkContext
    group = f"footer_schema_{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_frame(got, want):
    assert got.schema == want.schema
    assert got.columns == want.columns
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _assert_like_spark(spark, path):
    got, jobs = _jobs_submitted(spark, lambda: read_parquet(spark, path))
    assert jobs == []
    _assert_same_frame(got, spark.read.parquet(path))


@needs_sf
@pytest.mark.parametrize("table", TABLE_NAMES)
def test_testdata_tables_match_inference(spark, table):
    path = os.path.join(SF, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} missing")
    _assert_like_spark(spark, path)


@needs_sf
def test_spark_written_directory(spark, tmp_path):
    out = str(tmp_path / "written")
    (
        spark.read.parquet(os.path.join(SF, "orders.parquet"))
        .repartition(3)
        .write.parquet(out)
    )
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    _assert_like_spark(spark, out)


@needs_sf
def test_hive_partitioned_directory(spark, tmp_path):
    out = str(tmp_path / "partitioned")
    (
        spark.read.parquet(os.path.join(SF, "events.parquet"))
        .select("event_type", "ts", "value")
        .write.partitionBy("event_type")
        .parquet(out)
    )
    _assert_like_spark(spark, out)
    # the partition column comes last, after the footer's data columns
    assert read_parquet(spark, out).columns == ["ts", "value", "event_type"]


def test_int96_file(spark, tmp_path):
    path = str(tmp_path / "int96.parquet")
    table = pa.table({
        "id": pa.array([1, 2], type=pa.int64()),
        "ts": pa.array([1_700_000_000_000_000, 0], type=pa.timestamp("us")),
    })
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    assert pq.ParquetFile(path).schema.column(1).physical_type == "INT96"
    _assert_like_spark(spark, path)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp"


def test_timestamp_nanos_file(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    table = pa.table({
        "id": pa.array([1, 2, 3], type=pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, -1, 0],
                       type=pa.timestamp("ns")),
        "n": pa.array([7, 8, 9], type=pa.int64()),
    })
    pq.write_table(table, path)
    got, jobs = _jobs_submitted(spark, lambda: read_parquet(spark, path))
    assert jobs == []
    # Spark reads INT64 TIMESTAMP(NANOS) as epoch-nanos longs; the reader
    # converts exactly that column (not the plain long ``n``) to timestamps
    want = spark.read.parquet(path).withColumn("ts", _nanos_to_timestamp("ts"))
    _assert_same_frame(got, want)
    assert dict(got.dtypes) == {"id": "bigint", "ts": "timestamp", "n": "bigint"}


@pytest.mark.parametrize("layout", ["empty", "only_success", "missing"])
def test_no_data_file_raises_like_spark(spark, tmp_path, layout):
    path = tmp_path / "t"
    if layout != "missing":
        path.mkdir()
    if layout == "only_success":
        (path / "_SUCCESS").write_bytes(b"")
    with pytest.raises(Exception) as spark_err:
        spark.read.parquet(str(path))
    with pytest.raises(type(spark_err.value)):
        read_parquet(spark, str(path))


def test_declared_schema_reports_missing_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], type=pa.int64())}), path)
    declared = T.StructType([
        T.StructField("a", T.LongType()), T.StructField("b", T.LongType()),
    ])
    with pytest.raises(ValueError, match="missing declared columns"):
        read_parquet(spark, path, schema=declared)
