"""Reference-parity tests for the stock pipeline (SURVEY.md §5): fixture
invariants, fused == join-back (Q4), label modes (Q1), end-to-end ML."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark import stock
from big_data_analysis_for_stock_market_data_spark.operators import (
    indicators as ind,
)


@pytest.fixture(scope="module")
def bars(spark):
    # 2 symbols x ~3.2 trading days — crosses day boundaries (FIXTURES.md)
    return stock.make_stock_fixture(spark, n_rows=5_000, n_symbols=2).cache()


def test_fixture_ohlc_invariants(bars):
    bad = bars.filter(
        (F.col("low") > F.least("open", "close"))
        | (F.col("high") < F.greatest("open", "close"))
        | (F.col("close") <= 0)
        | (F.col("volume") <= 0)
    )
    assert bad.count() == 0
    assert bars.select("date_only").distinct().count() >= 3


def test_fixture_deterministic(spark, bars):
    again = stock.make_stock_fixture(spark, n_rows=5_000, n_symbols=2)
    a = bars.orderBy("symbol", "date").collect()
    b = again.orderBy("symbol", "date").collect()
    assert a == b


def test_daily_features_fused_equals_join(bars):
    # Q4: the fused window form must equal the reference's
    # compute-aside-then-join dataflow, row for row
    cols = ["symbol", "date", "avg_close", "avg_open", "avg_close_prev_day"]
    fused = stock.daily_features(bars, fused=True).select(cols)
    joined = stock.daily_features(bars, fused=False).select(cols)
    assert fused.exceptAll(joined).count() == 0
    assert joined.exceptAll(fused).count() == 0


def test_prev_day_is_previous_trading_day(bars):
    d = stock.daily_features(bars, fused=True)
    days = (
        d.groupBy("symbol", "date_only")
        .agg(
            F.first("avg_close").alias("avg_close"),
            F.first("avg_close_prev_day").alias("prev"),
        )
        .orderBy("symbol", "date_only")
        .collect()
    )
    by_symbol: dict = {}
    for r in days:
        seq = by_symbol.setdefault(r.symbol, [])
        if seq:  # prev must equal yesterday's avg_close
            assert r.prev == pytest.approx(seq[-1], rel=1e-12)
        else:
            assert r.prev is None  # first day has no predecessor
        seq.append(r.avg_close)


def test_label_modes_differ_and_are_binary(bars):
    lead = stock.feature_frame(bars, label_mode="lead")
    lag = stock.feature_frame(bars, label_mode="lag_parity")
    for d in (lead, lag):
        vals = {r.buy_or_sell for r in d.select("buy_or_sell").distinct().collect()}
        assert vals <= {0, 1}
    # Q1: the two modes are genuinely different labelings
    diff = (
        lead.select("symbol", "date", "buy_or_sell")
        .join(
            lag.select("symbol", "date", F.col("buy_or_sell").alias("lag_label")),
            on=["symbol", "date"],
        )
        .filter(F.col("buy_or_sell") != F.col("lag_label"))
    )
    assert diff.count() > 0


def test_stock_pipeline_end_to_end(bars):
    fit = stock.stock_pipeline(
        bars, model="rf", transform="none", num_trees=5, max_depth=4
    )
    assert set(fit.metrics) == {"areaUnderROC", "accuracy", "f1"}
    fit_pca = stock.stock_pipeline(
        bars, model="svc", transform="pca", pca_k=4, max_iter=5
    )
    assert 0.0 <= fit_pca.metrics["areaUnderROC"] <= 1.0


def test_closed_form_features_independent_of_partition_count(spark, bars):
    # Results must not depend on the core count: the closed-form block
    # (pandas rolling sums, whose last bits depend on where a series
    # starts) sees each symbol's whole history whatever
    # spark.sql.shuffle.partitions is, so its values are bit-identical.
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    frames = []
    try:
        for n in ("2", "4"):
            spark.conf.set(key, n)
            frames.append(
                stock.feature_frame(bars)
                .select("symbol", "date", *ind.CLOSED_FORM_COLS)
                .orderBy("symbol", "date")
                .toPandas()
            )
    finally:
        spark.conf.set(key, before)
    a, b = frames
    assert len(a) == len(b) == bars.count()
    differ = [
        c for c in ind.CLOSED_FORM_COLS
        if not np.array_equal(a[c].to_numpy(dtype="float64"),
                              b[c].to_numpy(dtype="float64"), equal_nan=True)
    ]
    assert differ == []


def test_feature_frame_build_submits_no_job(spark):
    # Building the feature frame must be pure planning: no probe or
    # sketch job may run before the caller's first action.
    sc = spark.sparkContext
    bars = stock.make_stock_fixture(spark, n_rows=2_000, n_symbols=2)
    assert bars.count() == 2_000
    g = "test_feature_frame_build_submits_no_job"
    sc.setJobGroup(g, g)
    try:
        stock.feature_frame(bars)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(g)) == []
