"""Unit tests for window operators (SURVEY.md §2.5, quirks Q1-Q3)."""

import datetime as dt

import pytest
from pyspark.sql import Row

from big_data_analysis_for_stock_market_data_spark.operators import windows as W
from test_io_footer_schema import SF, _jobs_submitted, needs_sf


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 9, minute)


def _mk(spark, highs):
    rows = [
        Row(symbol="SIE", date=_ts(i), high=float(h)) for i, h in enumerate(highs)
    ]
    return spark.createDataFrame(rows)


def test_lead_label_matches_intent(spark):
    # highs: 10, 12, 11 → lead labels: [1 (12>10), 0 (11>12), 0 (null lead)]
    df = W.label_buy_sell(
        _mk(spark, [10, 12, 11]), value_col="high", order_by="date",
        partition_by="symbol", mode="lead",
    )
    got = [r.buy_or_sell for r in df.orderBy("date").collect()]
    assert got == [1, 0, 0]


def test_lag_parity_replicates_reference_bug(spark):
    # reference (G_2_rf_nordd.py:36-37) compares LAG(high) > high:
    # [null>10 → 0, 10>12 → 0, 12>11 → 1]
    df = W.label_buy_sell(
        _mk(spark, [10, 12, 11]), value_col="high", order_by="date",
        partition_by="symbol", mode="lag_parity",
    )
    got = [r.buy_or_sell for r in df.orderBy("date").collect()]
    assert got == [0, 0, 1]


def test_label_in_01_and_partition_isolation(spark):
    rows = [
        Row(symbol=s, date=_ts(i), high=float(h))
        for s, highs in [("A", [1, 2, 3]), ("B", [9, 8, 7])]
        for i, h in enumerate(highs)
    ]
    df = W.label_buy_sell(
        spark.createDataFrame(rows), value_col="high", order_by="date",
        partition_by="symbol", mode="lead",
    )
    got = {(r.symbol, r.date.minute): r.buy_or_sell for r in df.collect()}
    # rising series all 1 until boundary; falling all 0. Boundary rows (last
    # per partition) must not see the other partition's rows.
    assert got[("A", 0)] == 1 and got[("A", 1)] == 1 and got[("A", 2)] == 0
    assert got[("B", 0)] == 0 and got[("B", 1)] == 0 and got[("B", 2)] == 0


def test_rolling_trailing_frame(spark):
    df = W.rolling(
        _mk(spark, [1, 2, 3, 4]), value_col="high", order_by="date",
        partition_by="symbol", window=2, funcs={"sma2": "avg"},
    )
    got = [r.sma2 for r in df.orderBy("date").collect()]
    assert got == [1.0, 1.5, 2.5, 3.5]


def test_with_lag_lead(spark):
    df = W.with_lead(
        W.with_lag(_mk(spark, [5, 6, 7]), "high", "date", "symbol"),
        "high", "date", "symbol",
    )
    rows = df.orderBy("date").collect()
    assert [r.lag_high for r in rows] == [None, 5.0, 6.0]
    assert [r.lead_high for r in rows] == [6.0, 7.0, None]


def test_gap_fill_and_forward_fill(spark):
    """Spine densifies each key's own span only; zero-fill and LOCF
    semantics hand-checked."""
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        forward_fill,
        gap_fill_daily,
    )

    df = spark.createDataFrame(
        [
            ("a", dt.date(2024, 1, 1), 2, 10.0),
            ("a", dt.date(2024, 1, 4), 1, 40.0),
            ("b", dt.date(2024, 1, 2), 5, 7.0),
        ],
        "k string, day date, n long, v double",
    )
    filled = gap_fill_daily(df, ["k"], "day", fill={"n": F.lit(0)})
    out = forward_fill(filled, ["k"], "day", ["v"]).collect()
    rows = {(r.k, str(r.day)): (r.n, r.v) for r in out}
    assert len(rows) == 5  # a: 4 days (1..4), b: 1 day — never a's span
    assert rows[("a", "2024-01-02")] == (0, 10.0)  # gap: zero count, LOCF v
    assert rows[("a", "2024-01-03")] == (0, 10.0)
    assert rows[("a", "2024-01-04")] == (1, 40.0)
    assert rows[("b", "2024-01-02")] == (5, 7.0)


def test_cumulative_distinct_hand_computed(spark):
    """Running distinct count per key: repeats don't increment; the figure
    follows (ts, id) order; keys are independent."""
    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        cumulative_distinct,
    )

    df = spark.createDataFrame(
        [
            (1, 1, "a"), (2, 1, "b"), (3, 1, "a"), (4, 1, "c"),
            (5, 2, "a"), (6, 2, "a"),
        ],
        "eid long, k long, e string",
    )
    out = cumulative_distinct(
        df, keys=["k"], value_col="e", order_by=["eid"]
    )
    assert sorted(out.columns) == sorted([*df.columns, "n_distinct_so_far"])
    got = {r.eid: r.n_distinct_so_far for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 3, 5: 1, 6: 1}


def test_sequence_pattern_match_crafted(spark):
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.windows import (
        sequence_pattern_match,
    )

    rows = []
    for uid, seq in {
        1: ["view", "error", "click", "error", "view"],
        2: ["error", "purchase", "error", "purchase"],
        3: ["view", "click", "purchase"],
    }.items():
        for i, et in enumerate(seq):
            rows.append(Row(user_id=uid, ts=float(i), event_id=uid * 100 + i,
                            event_type=et))
    ev = spark.createDataFrame(rows)
    out = {r["user_id"]: r for r in sequence_pattern_match(
        ev, keys=["user_id"], ts_col="ts", step_col="event_type",
        pattern="error>(click|purchase)", tiebreak=["event_id"],
    ).collect()}
    assert out[1]["n_matches"] == 1 and out[1]["matched"]
    assert out[2]["n_matches"] == 2
    assert out[3]["n_matches"] == 0 and not out[3]["matched"]
    assert out[3]["event_chain"] == "view>click>purchase"


@needs_sf
@pytest.mark.parametrize("name", [
    "w_ema_scan",
    "w1_scalable_global_lag",
    "w_rolling_active_users",
    "ml_auc_exact",
    "ml_ks_2sample",
    "ml_lift_table",
    "j4_bloom_prefilter",
])
def test_w_ema_scan_build_submits_no_job(spark, name):
    # Building these entries is pure planning: the EMA runs on the per-key
    # fold, the global-order scans take their bucket range from a subquery
    # inside the query, and j4's runtime filter is Spark's — no sketch,
    # collect or other probe job before the first action.
    from big_data_analysis_for_stock_market_data_spark.queries import queries

    build = queries()[name]
    df, jobs = _jobs_submitted(spark, lambda: build(spark, SF))
    assert jobs == []
    if name == "w_ema_scan":
        assert df.columns == [
            "event_id", "user_id", "ts", "value", "ema10_centi"
        ]
