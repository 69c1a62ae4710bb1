"""Scalable global-order window (windows.global_lag_lead): value parity
with the single-partition form, boundary stitching, empty partitions, and
the plan property that no exchange moves the big side into one partition.
The bucket count is ``spark.sql.shuffle.partitions``."""

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import windows as win_ops
from big_data_analysis_for_stock_market_data_spark.plans import inspect as P


@pytest.fixture(scope="module")
def series(spark):
    # unique order key, non-monotonic values
    return spark.range(500).select(
        F.col("id").alias("t"),
        (F.sin(F.col("id") * 0.37) * 100).alias("v"),
    )


@pytest.mark.parametrize("kind", ["lag", "lead"])
@pytest.mark.parametrize("n_parts", [1, 7, 64])
def test_matches_single_partition_window(
    spark, spark_conf, series, kind, n_parts
):
    # n_parts=64 buckets over 500 rows => exercises sparse buckets in the
    # boundary stitch
    spark_conf("spark.sql.shuffle.partitions", n_parts)
    got = (
        win_ops.global_lag_lead(series, "v", order_by="t", kind=kind)
        .orderBy("t")
        .collect()
    )
    fn = F.lag if kind == "lag" else F.lead
    want = (
        series.withColumn(f"{kind}_v", fn("v", 1).over(Window.orderBy("t")))
        .orderBy("t")
        .collect()
    )
    assert got == want


def _operator(line: str) -> str:
    """A plan line without its tree-drawing prefix."""
    return re.sub(r"^[\s:|+-]*", "", line)


def test_no_single_partition_exchange(series):
    df = win_ops.global_lag_lead(series, "v", order_by="t", kind="lag")
    lines = P.explain_str(df, "simple").splitlines()
    # the big side shuffles by the bucket id (parallel windows)
    assert any("hashpartitioning(__bkt" in ln for ln in lines)
    # no exchange moves big-side rows into one partition: each
    # SinglePartition exchange takes either the partial of a 1-row
    # aggregate (the key-range subquery) or the per-bucket aggregate
    # (the |buckets|-row bounds frame), and feeds the 1-row aggregate's
    # final step or the bounds frame's window over __bkt
    single = [
        i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln
    ]
    assert single
    for i in single:
        parent, child = _operator(lines[i - 1]), _operator(lines[i + 1])
        one_row = child.startswith("HashAggregate(keys=[], functions=[partial_")
        per_bucket = re.match(r"(Hash|Sort)Aggregate\(keys?=\[__bkt#", child)
        assert one_row or per_bucket, child
        if one_row:
            assert parent.startswith("HashAggregate(keys=[]"), parent
        else:
            assert parent.startswith("Sort [__bkt#"), parent


def test_range_exchange_reused_not_recomputed(series):
    # boundary stitch must reuse the SAME range shuffle output the window
    # consumed: a recomputed exchange could re-sample different bounds and
    # mis-stitch. AQE reuse shows as ReusedExchange/table-cache reuse.
    df = win_ops.global_lag_lead(series, "v", order_by="t", kind="lag")
    df.write.format("noop").mode("overwrite").save()  # force execution
    # value parity across 3 runs guards against nondeterministic stitching
    runs = [
        win_ops.global_lag_lead(series, "v", order_by="t", kind="lag")
        .orderBy("t")
        .collect()
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2]


def test_bad_kind_rejected(series):
    with pytest.raises(ValueError, match="kind"):
        win_ops.global_lag_lead(series, "v", order_by="t", kind="middle")


def test_prefix_sum_matches_sequential_window(spark, spark_conf, series):
    from pyspark.sql import functions as F

    spark_conf("spark.sql.shuffle.partitions", 7)
    got = (
        win_ops.prefix_sum(series, "v", order_by="t")
        .orderBy("t")
        .collect()
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    want = (
        series.withColumn(
            "cumsum_v",
            F.sum(F.col("v").cast("decimal(28,8)")).over(w).cast("double"),
        )
        .orderBy("t")
        .collect()
    )
    assert got == want


def test_prefix_sum_keyed_plan_is_pure_window(spark):
    # With a partition key the scalable plan is the plain per-key running
    # sum: ONE hash shuffle on the key, no auxiliary offsets frame, and
    # critically no broadcast — the old always-bucketed form broadcast a
    # |keys × buckets| frame, which for a high-cardinality key (user_id
    # at 100 TB) is a multi-GB broadcast to every executor.
    df = spark.range(400).select(
        (F.col("id") % 97).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 17 * 1.0).alias("v"),
    )
    out = win_ops.prefix_sum(df, "v", order_by="t", partition_by="k")
    plan = P.explain_str(out, "formatted")
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert "Window" in plan


def test_prefix_sum_keyless_offsets_broadcast_is_bounded(
    spark, spark_conf, series
):
    # The keyless two-phase scan broadcasts ONLY the |buckets|-row offsets
    # frame (bounded by config, never by data) — exactly one broadcast.
    spark_conf("spark.sql.shuffle.partitions", 7)
    out = win_ops.prefix_sum(series, "v", order_by="t")
    plan = P.explain_str(out, "simple")
    assert plan.count("BroadcastExchange") == 1


def test_prefix_sum_per_key(spark):
    from pyspark.sql import functions as F

    df = spark.range(400).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 17 * 1.0).alias("v"),
    )
    got = (
        win_ops.prefix_sum(df, "v", order_by="t", partition_by="k")
        .orderBy("k", "t")
        .collect()
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = (
        df.withColumn(
            "cumsum_v",
            F.sum(F.col("v").cast("decimal(28,8)")).over(w).cast("double"),
        )
        .orderBy("k", "t")
        .collect()
    )
    assert got == want
