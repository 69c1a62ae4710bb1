"""Unit tests for joins and the join-or-fuse builder (SURVEY.md §2.3, Q4)."""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import joins as J
from test_io_footer_schema import SF, needs_sf


def _ts(minute):
    return dt.datetime(2024, 1, 1, 9, minute)


def test_equi_join_using_semantics(spark):
    left = spark.createDataFrame([Row(k=1, a="l1"), Row(k=2, a="l2")])
    right = spark.createDataFrame([Row(k=1, b="r1")])
    out = J.equi_join(left, right, on="k")
    assert out.columns == ["k", "a", "b"]  # key deduplicated (USING-style)
    assert out.count() == 1


def test_fuse_equals_join_back(spark):
    """Q4: window-fused group stat must equal the reference's
    compute-aside-then-join (G_2_rf_nordd_fe.py:47-49)."""
    df = spark.createDataFrame(
        [Row(day="d1", v=1.0), Row(day="d1", v=3.0), Row(day="d2", v=10.0)]
    )
    fused = J.fuse_group_stat(df, "day", {"v": "avg_v"})
    aside = df.groupBy("day").agg(F.avg("v").alias("avg_v"))
    joined = J.equi_join(df, aside, on="day")
    f = {(r.day, r.v): r.avg_v for r in fused.collect()}
    j = {(r.day, r.v): r.avg_v for r in joined.collect()}
    assert f == j == {("d1", 1.0): 2.0, ("d1", 3.0): 2.0, ("d2", 10.0): 10.0}


def test_as_of_join_backward(spark):
    trades = spark.createDataFrame([
        Row(sym="A", t=_ts(5), px=100.0),
        Row(sym="A", t=_ts(10), px=101.0),
        Row(sym="B", t=_ts(7), px=50.0),
    ])
    quotes = spark.createDataFrame([
        Row(sym="A", qt=_ts(4), bid=99.0),
        Row(sym="A", qt=_ts(9), bid=100.5),
        Row(sym="B", qt=_ts(8), bid=49.5),
    ])
    out = J.as_of_join(
        trades, quotes, on="sym", left_time="t", right_time="qt",
        right_values=["bid"],
    )
    got = {(r.sym, r.t.minute): r.bid for r in out.collect()}
    # A@5 ← quote@4; A@10 ← quote@9; B@7 has no earlier quote → null
    assert got == {("A", 5): 99.0, ("A", 10): 100.5, ("B", 7): None}


def test_as_of_join_equal_timestamp_matches(spark):
    left = spark.createDataFrame([Row(sym="A", t=_ts(5), x=1)])
    right = spark.createDataFrame([Row(sym="A", qt=_ts(5), bid=42.0)])
    out = J.as_of_join(left, right, "sym", "t", "qt", ["bid"])
    assert out.first().bid == 42.0  # "at or before" includes equality


def test_as_of_join_forward(spark):
    left = spark.createDataFrame([Row(sym="A", t=_ts(5), x=1)])
    right = spark.createDataFrame(
        [Row(sym="A", qt=_ts(3), bid=1.0), Row(sym="A", qt=_ts(8), bid=2.0)]
    )
    out = J.as_of_join(left, right, "sym", "t", "qt", ["bid"], direction="forward")
    assert out.first().bid == 2.0


def test_range_join(spark):
    points = spark.createDataFrame([Row(v=5), Row(v=15), Row(v=25)])
    ranges = spark.createDataFrame(
        [Row(lo=0, hi=10, bucket="low"), Row(lo=10, hi=20, bucket="mid")]
    )
    out = J.range_join(points, ranges, "v", "lo", "hi")
    got = {r.v: r.bucket for r in out.collect()}
    assert got == {5: "low", 15: "mid"}  # 25 unmatched (inner)


@needs_sf
def test_j4_runtime_bloom_filter_is_injected_by_spark(spark, spark_conf):
    """j4 runs the plain join and leaves the runtime filter to Spark: with
    broadcast off and the application-side scan threshold lowered,
    InjectRuntimeFilter puts a ``might_contain`` Bloom filter on lineitem.
    (At the default threshold lineitem at this scale is too small for it,
    and at the engine's broadcast threshold orders is broadcast.)"""
    from big_data_analysis_for_stock_market_data_spark.queries import queries

    spark_conf("spark.sql.autoBroadcastJoinThreshold", -1)
    spark_conf(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "1b",
    )
    df = queries()["j4_bloom_prefilter"](spark, SF)
    df.collect()
    assert "might_contain" in df._jdf.queryExecution().executedPlan().toString()


def test_binned_range_join_equals_plain_range_join(spark):
    """The binned equi-join form must equal the nested-loop range join
    row-for-row: overlapping intervals multi-match (each match exactly
    once), boundary points respect [lo, hi), negatives bin correctly."""
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.operators.joins import (
        binned_range_join,
        range_join,
    )

    pts = spark.createDataFrame(
        [(1, -7.5), (2, -0.01), (3, 0.0), (4, 2.5), (5, 5.0), (6, 99.9)],
        "pid long, x double",
    )
    iv = spark.createDataFrame(
        [(10, -10.0, 0.0), (11, -1.0, 3.0), (12, 2.0, 5.0), (13, 5.0, 6.0)],
        "iid long, lo double, hi double",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in binned_range_join(pts, iv, "x", "lo", "hi", 2.0).collect()
    )
    want = sorted(
        (r.pid, r.iid) for r in range_join(pts, iv, "x", "lo", "hi").collect()
    )
    assert got == want
    # hand-checked: -7.5 in [-10,0); -0.01 in both [-10,0) and [-1,3);
    # 0.0 and 2.5 in [-1,3); 2.5 also in [2,5); 5.0 in [5,6) only
    assert want == [(1, 10), (2, 10), (2, 11), (3, 11), (4, 11), (4, 12),
                    (5, 13)]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        binned_range_join(pts, iv, "x", "lo", "hi", 0)


def test_as_of_join_tolerance(spark):
    """pandas-merge_asof tolerance semantics: a match further than the
    bound nulls out; within the bound it is identical to the unbounded
    as-of (the latest right row <= t is the latest within any window)."""
    trades = spark.createDataFrame([
        Row(sym="A", t=_ts(5), x=1),    # quote @4 -> 1 min gap, keeps
        Row(sym="A", t=_ts(40), x=2),   # quote @9 -> 31 min gap, nulls
        Row(sym="B", t=_ts(7), x=3),    # no quote at all
    ])
    quotes = spark.createDataFrame([
        Row(sym="A", qt=_ts(4), bid=99.0),
        Row(sym="A", qt=_ts(9), bid=100.5),
    ])
    out = J.as_of_join(
        trades, quotes, on="sym", left_time="t", right_time="qt",
        right_values=["bid"], tolerance="10 minutes",
    )
    got = {(r.sym, r.t.minute): r.bid for r in out.collect()}
    assert got == {("A", 5): 99.0, ("A", 40): None, ("B", 7): None}
    assert "__match_t" not in out.columns


def test_interval_overlap_join_exactly_once(spark):
    """Every overlapping pair surfaces EXACTLY once (the claim-at-first-
    shared-bin rule), including pairs whose overlap spans many bins;
    non-overlapping pairs sharing a bin are filtered; closed-interval
    boundary touches count."""
    left = spark.createDataFrame(
        [(1, 0, 100), (2, 5, 6), (3, 40, 41), (4, 200, 210)],
        "lid long, l_lo long, l_hi long",
    )
    right = spark.createDataFrame(
        [(10, 50, 60), (11, 6, 7), (12, 100, 110), (13, 300, 310)],
        "rid long, r_lo long, r_hi long",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in J.interval_overlap_join(
            left, right, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=8
        ).collect()
    )
    # hand-checked: [0,100] overlaps [50,60] (spans many shared bins —
    # must appear once), [6,7] (touch at 6..7), [100,110] (touch at
    # 100); [5,6] overlaps [6,7] at the closed boundary; [40,41] and
    # [200,210] overlap nothing
    assert got == [(1, 10), (1, 11), (1, 12), (2, 11)]

    # must equal the plain nested-loop theta join for a random-ish mix
    import itertools
    lrows = [(i, (i * 7) % 50, (i * 7) % 50 + i % 11) for i in range(40)]
    rrows = [(j, (j * 13) % 60, (j * 13) % 60 + j % 9) for j in range(30)]
    want = sorted(
        (lr[0], rr[0])
        for lr, rr in itertools.product(lrows, rrows)
        if lr[1] <= rr[2] and rr[1] <= lr[2]
    )
    ldf = spark.createDataFrame(lrows, "lid long, l_lo long, l_hi long")
    rdf = spark.createDataFrame(rrows, "rid long, r_lo long, r_hi long")
    got2 = sorted(
        (r.lid, r.rid)
        for r in J.interval_overlap_join(
            ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=5
        ).collect()
    )
    assert got2 == want

    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        J.interval_overlap_join(
            ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=0
        )


def test_grid_radius_join_matches_brute_force(spark):
    """The 3x3 neighbor-cell plan must equal the plain distance theta
    join, including points straddling cell boundaries and exact
    on-the-circle distances."""
    import itertools

    left = spark.createDataFrame(
        [Row(lid=i, lx=x, ly=y) for i, (x, y) in enumerate(
            [(0, 0), (999, 999), (1000, 1000), (5000, 5000), (-3, -3)])]
    )
    right = spark.createDataFrame(
        [Row(rid=i, rx=x, ry=y) for i, (x, y) in enumerate(
            [(0, 1000), (1999, 1999), (5000, 6000), (-1003, -3), (7, 7)])]
    )
    got = {
        (r.lid, r.rid)
        for r in J.grid_radius_join(
            left, right, "lx", "ly", "rx", "ry", radius=1000
        ).collect()
    }
    lrows = left.collect()
    rrows = right.collect()
    want = {
        (l.lid, r.rid)
        for l, r in itertools.product(lrows, rrows)
        if (l.lx - r.rx) ** 2 + (l.ly - r.ry) ** 2 <= 1000 * 1000
    }
    assert got == want
    assert (0, 0) in got  # exactly on the radius (dist == 1000)
    assert (4, 3) in got  # both negative coordinates (floor-div cells)


def test_grid_radius_join_rejects_bad_radius(spark):
    df = spark.createDataFrame([Row(x=0, y=0)])
    try:
        J.grid_radius_join(df, df, "x", "y", "x", "y", radius=0)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_asof_nearest_choice_ties_and_tolerance(spark):
    t = dt.datetime
    left = spark.createDataFrame([
        Row(k=1, lt=t(2024, 1, 1, 12, 0), lid=0),   # nearer backward
        Row(k=1, lt=t(2024, 1, 1, 12, 50), lid=1),  # nearer forward
        Row(k=1, lt=t(2024, 1, 1, 12, 30), lid=2),  # exact tie -> backward
        Row(k=2, lt=t(2024, 1, 1, 9, 0), lid=3),    # only forward exists
        Row(k=3, lt=t(2024, 1, 1, 9, 0), lid=4),    # no match at all
    ])
    right = spark.createDataFrame([
        Row(k=1, rt=t(2024, 1, 1, 11, 55), rv=10),
        Row(k=1, rt=t(2024, 1, 1, 13, 5), rv=20),
        Row(k=2, rt=t(2024, 1, 1, 10, 0), rv=30),
    ])
    got = {
        r.lid: r.rv
        for r in J.as_of_join(
            left, right, on="k", left_time="lt", right_time="rt",
            right_values=["rv"], direction="nearest",
        ).collect()
    }
    # lid=2 sits 35 min from both sides (11:55 and 13:05)? backward gap
    # 35 min, forward gap 35 min -> tie goes backward
    assert got == {0: 10, 1: 20, 2: 10, 3: 30, 4: None}
    # tolerance bounds both directions: 30 min drops the 35-min tie pair
    got_tol = {
        r.lid: r.rv
        for r in J.as_of_join(
            left, right, on="k", left_time="lt", right_time="rt",
            right_values=["rv"], direction="nearest",
            tolerance="30 minutes",
        ).collect()
    }
    assert got_tol == {0: 10, 1: 20, 2: None, 3: None, 4: None}


def test_asof_tie_break_deterministic(spark):
    # Several RIGHT rows share (key, time) with different values: the
    # carry must be the greatest value tuple on ANY physical layout —
    # not whichever row the shuffle happened to place last.
    t = dt.datetime
    left = spark.createDataFrame(
        [Row(k=1, lt=t(2024, 1, 1, 12, 0), lid=0)]
    )
    tied = [
        Row(k=1, rt=t(2024, 1, 1, 11, 0), rv=v) for v in (7, 42, 13, 3)
    ]
    for layout in (
        lambda df: df,
        lambda df: df.repartition(5),
        lambda df: df.repartition(1).sortWithinPartitions(F.desc("rv")),
        lambda df: df.repartition(3, "rv"),
    ):
        got = J.as_of_join(
            left, layout(spark.createDataFrame(tied)),
            on="k", left_time="lt", right_time="rt", right_values=["rv"],
        ).collect()
        assert [r.rv for r in got] == [42], got
    # forward direction: same contract at the earliest later time
    got_f = J.as_of_join(
        left.withColumn("lt", F.lit(t(2024, 1, 1, 10, 0))),
        spark.createDataFrame(tied).repartition(4),
        on="k", left_time="lt", right_time="rt", right_values=["rv"],
        direction="forward",
    ).collect()
    assert [r.rv for r in got_f] == [42]
    # a map-typed carry column is skipped by the tie-break (not
    # orderable) but still carries
    right_map = spark.createDataFrame(
        [Row(k=1, rt=t(2024, 1, 1, 11, 0), m={"a": 1})]
    )
    got_m = J.as_of_join(
        left, right_map, on="k", left_time="lt", right_time="rt",
        right_values=["m"],
    ).collect()
    assert got_m[0].m == {"a": 1}
