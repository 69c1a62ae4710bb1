"""Indicator library vs. independently-computed pandas expectations."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from big_data_analysis_for_stock_market_data_spark.operators import indicators as I


@pytest.fixture(scope="module")
def ohlcv(spark):
    rng = np.random.default_rng(42)
    rows = []
    for sym in ("AAA", "BBB"):
        px = 100.0
        for i in range(80):
            px *= 1 + rng.normal(0, 0.01)
            o = px * (1 + rng.normal(0, 0.002))
            c = px * (1 + rng.normal(0, 0.002))
            h = max(o, c) * (1 + abs(rng.normal(0, 0.002)))
            low = min(o, c) * (1 - abs(rng.normal(0, 0.002)))
            rows.append(
                {
                    "symbol": sym,
                    "date": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                    "open": o, "high": h, "low": low, "close": c,
                    "volume": int(rng.integers(100, 10_000)),
                }
            )
    pdf = pd.DataFrame(rows)
    return pdf, spark.createDataFrame(pdf)


def _series(df, sym, col):
    rows = df.filter(df.symbol == sym).orderBy("date").collect()
    return np.array([getattr(r, col) for r in rows], dtype="float64")


def test_sma_matches_pandas(ohlcv):
    pdf, df = ohlcv
    out = I.sma(df, 5)
    for sym in ("AAA", "BBB"):
        exp = (
            pdf[pdf.symbol == sym].sort_values("date").close
            .rolling(5, min_periods=1).mean().to_numpy()
        )
        np.testing.assert_allclose(_series(out, sym, "sma5"), exp, rtol=1e-12)


def test_ema_matches_pandas(ohlcv):
    pdf, df = ohlcv
    out = I.ema(df, [10])
    for sym in ("AAA", "BBB"):
        exp = (
            pdf[pdf.symbol == sym].sort_values("date").close
            .ewm(span=10, adjust=False).mean().to_numpy()
        )
        np.testing.assert_allclose(_series(out, sym, "ema10"), exp, rtol=1e-12)


def test_momentum_roc(ohlcv):
    pdf, df = ohlcv
    out = I.roc(I.momentum(df, 10), 10)
    for sym in ("AAA", "BBB"):
        c = pdf[pdf.symbol == sym].sort_values("date").close
        np.testing.assert_allclose(
            _series(out, sym, "mom10")[10:], (c - c.shift(10)).to_numpy()[10:],
            rtol=1e-12,
        )
        np.testing.assert_allclose(
            _series(out, sym, "roc10")[10:],
            (100 * (c - c.shift(10)) / c.shift(10)).to_numpy()[10:],
            rtol=1e-12,
        )


def test_bollinger_bands(ohlcv):
    pdf, df = ohlcv
    out = I.bollinger(df, 20)
    for sym in ("AAA",):
        c = pdf[pdf.symbol == sym].sort_values("date").close
        mid = c.rolling(20, min_periods=1).mean()
        sd = c.rolling(20, min_periods=1).std()
        got_up = _series(out, sym, "upperband")
        np.testing.assert_allclose(got_up[19:], (mid + 2 * sd).to_numpy()[19:], rtol=1e-12)
        got_w = _series(out, sym, "bollinger_bands_width")
        np.testing.assert_allclose(
            got_w[19:], ((4 * sd) / mid).to_numpy()[19:], rtol=1e-9
        )


def test_rsi_bounds_and_value(ohlcv):
    pdf, df = ohlcv
    out = I.rsi(df, 14)
    for sym in ("AAA", "BBB"):
        c = pdf[pdf.symbol == sym].sort_values("date").close
        delta = c.diff()
        ag = delta.clip(lower=0).ewm(alpha=1 / 14, adjust=False).mean()
        al = (-delta).clip(lower=0).ewm(alpha=1 / 14, adjust=False).mean()
        exp = (100 - 100 / (1 + ag / al)).to_numpy()
        got = _series(out, sym, "rsi14")
        np.testing.assert_allclose(got[1:], exp[1:], rtol=1e-10)
        assert np.all((got[1:] >= 0) & (got[1:] <= 100))


def test_cci_matches_manual(ohlcv):
    pdf, df = ohlcv
    out = I.cci(df, 10)
    for sym in ("AAA",):
        g = pdf[pdf.symbol == sym].sort_values("date")
        tp = (g.high + g.low + g.close) / 3
        sma_tp = tp.rolling(10, min_periods=1).mean()
        mdev = tp.rolling(10, min_periods=1).apply(
            lambda w: np.mean(np.abs(w - w.mean())), raw=True
        )
        exp = ((tp - sma_tp) / (0.015 * mdev)).to_numpy()
        np.testing.assert_allclose(_series(out, sym, "cci10")[9:], exp[9:], rtol=1e-9)


def test_willr_range(ohlcv):
    _, df = ohlcv
    out = I.willr(df, 14)
    vals = _series(out, "AAA", "willr")
    assert np.all((vals <= 0) & (vals >= -100))


def test_recursive_enrich_one_pass_equals_single_ops(ohlcv):
    _, df = ohlcv
    combined = I.recursive_enrich(
        df, ema_spans=(10,), macd_pairs=((12, 26),), rsi_ns=(14,),
        kama_ns=(10,), adx_ns=(14,),
    )
    single_ema = I.ema(df, [10])
    single_adx = I.adx(df, 14)
    np.testing.assert_allclose(
        _series(combined, "AAA", "ema10"), _series(single_ema, "AAA", "ema10"),
        rtol=1e-12,
    )
    got_adx = _series(combined, "AAA", "adx14")[2:]
    exp_adx = _series(single_adx, "AAA", "adx14")[2:]
    np.testing.assert_allclose(got_adx, exp_adx, rtol=1e-10)


def test_enrich_ohlcv_full_surface(ohlcv):
    _, df = ohlcv
    out = I.enrich_ohlcv(df)
    cols = set(out.columns)
    expected = {
        "sma5", "sma10", "sma15", "sma20", "trima5", "trima10", "trima20",
        "roc5", "roc10", "roc20", "mom10", "mom15", "mom20",
        "middleband", "upperband", "lowerband", "bollinger_bands_width",
        "typprice", "willr", "fastk", "slowk", "slowd", "trange", "atr",
        "cci5", "cci10", "cci15", "ema5", "ema10", "ema15", "ema20",
        "macd510", "macd520", "macd1020", "macd1520", "macd1226",
        "rsi8", "rsi14", "kama10", "kama20", "kama30",
        "adx5", "adx10", "adx20",
    }
    assert expected <= cols
    assert out.count() == 160


def test_cci_numpy_matches_expression_form(spark):
    from big_data_analysis_for_stock_market_data_spark import stock
    from big_data_analysis_for_stock_market_data_spark.operators import (
        indicators as ind,
    )

    bars = stock.make_stock_fixture(spark, n_rows=1200, n_symbols=2)
    expr_form = ind.cci(bars, 10, "symbol", "date").select(
        "symbol", "date", "cci10"
    )
    np_form = ind.recursive_enrich(
        bars, "symbol", "date", ema_spans=(), macd_pairs=(), rsi_ns=(),
        kama_ns=(), adx_ns=(), cci_ns=(10,),
    ).select("symbol", "date", "cci10")
    a = expr_form.orderBy("symbol", "date").collect()
    b = np_form.orderBy("symbol", "date").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        if ra.cci10 is None or rb.cci10 is None:
            assert (ra.cci10 is None) == (rb.cci10 is None or rb.cci10 != rb.cci10)
        else:
            assert abs(ra.cci10 - rb.cci10) < 1e-6 * max(1.0, abs(ra.cci10))


def test_enrich_parallel_matches_expr_engine(spark):
    import math

    from big_data_analysis_for_stock_market_data_spark import stock
    from big_data_analysis_for_stock_market_data_spark.operators import (
        indicators as ind,
    )

    bars = stock.make_stock_fixture(spark, n_rows=3000, n_symbols=2).cache()
    cols = ["symbol", "date"] + ind.CLOSED_FORM_COLS
    a = (
        ind.enrich_ohlcv(bars, engine="expr")
        .select(cols).orderBy("symbol", "date").collect()
    )
    b = (
        ind.enrich_ohlcv(bars, engine="parallel")
        .select(cols).orderBy("symbol", "date").collect()
    )
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        for c in ind.CLOSED_FORM_COLS:
            va, vb = getattr(ra, c), getattr(rb, c)
            na = va is None or (isinstance(va, float) and math.isnan(va))
            nb = vb is None or (isinstance(vb, float) and math.isnan(vb))
            if na or nb:
                assert na == nb, (c, ra.date, va, vb)
            else:
                # mfi14/ultosc: the expr engine quantizes addends to
                # DECIMAL(28,8) (oracle exactness), pandas keeps floats —
                # agreement is 1e-5-relative, not ulp-level
                tol = 1e-5 if c in ("mfi14", "ultosc") else 1e-9
                assert math.isclose(va, vb, rel_tol=tol, abs_tol=tol), (
                    c, ra.date, va, vb,
                )


def test_rolling_beta_matches_numpy_cov_var(spark):
    import numpy as np
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.indicators import (
        rolling_beta,
    )

    rng = np.random.default_rng(7)
    n = 120
    m = rng.normal(100.0, 3.0, n).round(4)
    v = (0.8 * m + rng.normal(0.0, 2.0, n)).round(4)
    df = spark.createDataFrame(
        [Row(symbol="A", t=i, close=float(v[i]), market=float(m[i]))
         for i in range(n)]
    )
    got = {
        r.t: r.beta20
        for r in rolling_beta(
            df, n=20, value_col="close", market_col="market",
            partition_by="symbol", order_by="t",
        ).collect()
    }
    for t in (19, 60, n - 1):
        vv, mm = v[t - 19:t + 1], m[t - 19:t + 1]
        want = np.cov(vv, mm, ddof=1)[0, 1] / np.var(mm, ddof=1)
        assert abs(got[t] - want) < 1e-6, (t, got[t], want)
    # warm-up frames (fewer than n rows) still produce finite values
    assert got[0] is None or isinstance(got[0], float)


def test_parabolic_sar_trails_and_reverses(spark):
    from pyspark.sql import Row

    from big_data_analysis_for_stock_market_data_spark.operators.indicators import sar

    # deterministic rise then fall: SAR must trail below price while
    # rising, then flip to the prior extreme on the break
    xs = [100.0, 101.0, 102.0, 103.0, 104.0, 105.0, 90.0, 89.0, 88.0]
    df = spark.createDataFrame(
        [Row(symbol="A", t=i, close=x) for i, x in enumerate(xs)]
    )
    got = [r.sar for r in sar(df, order_by="t").orderBy("t").collect()]
    assert got[0] == 100.0
    for i in range(1, 6):          # uptrend: sar <= price, non-decreasing
        assert got[i] <= xs[i] and got[i] >= got[i - 1] - 1e-12
    assert got[6] == 105.0         # reversal lands on the prior extreme
    for i in range(7, 9):          # downtrend: sar above price, declining
        assert got[i] > xs[i]
        assert got[i] <= got[i - 1]


def test_obv_matches_pandas(ohlcv):
    pdf, df = ohlcv
    out = I.obv(df, partition_by="symbol", order_by="date")
    for sym in ("AAA", "BBB"):
        got = _series(out, sym, "obv")
        p = pdf[pdf.symbol == sym].sort_values("date")
        sign = np.sign(p.close.diff().fillna(0).to_numpy())
        exp = np.cumsum(sign * p.volume.to_numpy())
        assert np.allclose(got, exp)


def test_vwap_grouped_daily(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "symbol": ["A"] * 4,
            "date": pd.to_datetime(
                ["2024-01-01 09:00", "2024-01-01 10:00",
                 "2024-01-02 09:00", "2024-01-02 10:00"]
            ),
            "close": [10.0, 20.0, 30.0, 40.0],
            "volume": [1, 3, 2, 0],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "day", F.date_trunc("day", F.col("date"))
    )
    out = I.vwap_grouped(df, ["symbol", "day"]).orderBy("date").collect()
    # day 1: (10*1 + 20*3) / 4 = 17.5 ; day 2: (30*2 + 40*0) / 2 = 30
    assert [round(r.vwap, 6) for r in out] == [17.5, 17.5, 30.0, 30.0]


def test_vwap_zero_volume_group_is_null(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {"symbol": ["A"], "g": [1], "close": [10.0], "volume": [0]}
    )
    df = spark.createDataFrame(pdf)
    out = I.vwap_grouped(df, ["symbol", "g"]).collect()
    assert out[0].vwap is None


def test_drawdown_running_peak(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "symbol": ["A"] * 5,
            "date": pd.date_range("2024-01-01", periods=5),
            "close": [10.0, 12.0, 9.0, 12.0, 6.0],
        }
    )
    out = (
        I.drawdown(spark.createDataFrame(pdf), partition_by="symbol",
                   order_by="date", col="close")
        .orderBy("date")
        .collect()
    )
    assert [r.peak for r in out] == [10.0, 12.0, 12.0, 12.0, 12.0]
    assert [round(r.drawdown, 6) for r in out] == [
        0.0, 0.0, -0.25, 0.0, -0.5
    ]


def test_resample_ohlc_weekly(spark):
    import pandas as pd

    # two ISO weeks: Mon Jan 1 2024 .. Sun Jan 7, then Mon Jan 8
    pdf = pd.DataFrame(
        {
            "symbol": ["A"] * 4,
            "date": pd.to_datetime(
                ["2024-01-01", "2024-01-03", "2024-01-07", "2024-01-08"]
            ),
            "close": [10.0, 15.0, 8.0, 99.0],
            "volume": [1, 2, 3, 4],
        }
    )
    out = (
        I.resample_ohlc(spark.createDataFrame(pdf), partition_by="symbol",
                        order_by="date")
        .orderBy("bucket")
        .collect()
    )
    assert len(out) == 2
    w1, w2 = out
    assert (w1.open, w1.high, w1.low, w1.close, w1.volume, w1.n_rows) == (
        10.0, 15.0, 8.0, 8.0, 6, 3
    )
    assert (w2.open, w2.close, w2.volume, w2.n_rows) == (99.0, 99.0, 4, 1)


def test_cci_block_chunking_bit_identical():
    # r11: _cci_pandas_block processes the sliding-window view in 64k-row
    # contiguous blocks (allocation-stall fix). Per-row reductions are
    # unchanged, so outputs must be BIT-identical to the whole-array form
    # — this pins that equivalence, including across block boundaries.
    import numpy as np
    import pandas as pd

    from big_data_analysis_for_stock_market_data_spark.operators import (
        indicators as ind,
    )

    rng = np.random.default_rng(11)
    for m in (40, 1000, 70_000):  # 70k spans two 64k blocks
        close = pd.Series(100 + np.cumsum(rng.normal(0, 0.1, m)))
        pdf = pd.DataFrame(
            {"close": close, "high": close * 1.001, "low": close * 0.999}
        )
        got = ind._cci_pandas_block(pdf.copy(), (5, 10, 15), "close")
        for n in (5, 10, 15):
            tp = ((pdf["high"] + pdf["low"] + pdf["close"]) / 3.0).to_numpy(
                dtype="float64"
            )
            W = np.lib.stride_tricks.sliding_window_view(tp, n)
            sma = W.mean(axis=1)
            md = np.abs(W - sma[:, None]).mean(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                ref = (tp[n - 1:] - sma) / (0.015 * md)
            ref[md == 0] = np.nan
            out = got[f"cci{n}"].to_numpy()[n - 1:]
            assert np.array_equal(out, ref, equal_nan=True), (m, n)
