"""Per-stage timing bisector for the stock FE pipeline (the BENCH
``stock_fe_671k`` point) — the guard against "optimizations" that shift
cost between stages without improving the total (it happened twice in
rounds 2-3 before this tool existed).

Times, cumulatively and per-stage, at the reference's 671,024-row scale:

1. fixture     — make_stock_fixture materialized
2. daily+label — day-grain windows + buy/sell label on the raw bars
3. closed-form — the closed-form block as a standalone overlap-bucket pass
4. full        — the full feature_frame: its one per-symbol Python
                 pass runs the closed-form block again together with the
                 recurrences, then the row-wise features (read stages
                 3 + 4 together)

Each stage is measured as (cumulative pipeline up to stage k) minus the
previous cumulative — lazy evaluation makes isolated stage timing
meaningless, and this difference method charges each stage exactly the
work it adds.

Usage: python tools/fe_stage_timings.py [n_rows] [n_symbols]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 671_024
    n_symbols = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from big_data_analysis_for_stock_market_data_spark import stock
    from big_data_analysis_for_stock_market_data_spark.operators import (
        indicators as ind,
    )
    from big_data_analysis_for_stock_market_data_spark.operators import (
        windows as win_ops,
    )
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    spark = get_session(app_name="fe_stage_timings")

    def bars():
        return stock.make_stock_fixture(
            spark, n_rows=n_rows, n_symbols=n_symbols
        )

    def daily_label(d):
        d = stock.daily_features(d, fused=True)
        return win_ops.label_buy_sell(
            d, value_col="high", order_by="date", partition_by="symbol",
            mode="lead",
        )

    def closed_form(d):
        # the closed-form block alone, as a standalone bucketed pass
        from pyspark.sql import types as T

        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cuts = win_ops.compute_order_cuts(bars(), "date", n)
        return win_ops.rolling_apply_parallel(
            d, ind._closed_form_pandas,
            {c: T.DoubleType() for c in ind.CLOSED_FORM_COLS},
            lookback=ind.CLOSED_FORM_LOOKBACK,
            order_by="date", partition_by="symbol", cuts=cuts,
        )

    def full_fe(_):
        return stock.feature_frame(bars())

    stages = [
        ("fixture", lambda: bars()),
        ("daily_label", lambda: daily_label(bars())),
        ("closed_form", lambda: closed_form(daily_label(bars()))),
        ("full_feature_frame", lambda: full_fe(None)),
    ]

    # warm-up (JVM + codegen)
    bars().write.format("noop").mode("overwrite").save()

    results = {}
    prev = 0.0
    for name, build in stages:
        runs = []
        for _ in range(2):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        cum = min(runs)
        results[name] = {
            "cumulative_sec": round(cum, 2),
            "stage_sec": round(cum - prev, 2),
        }
        prev = cum
        print(json.dumps({name: results[name]}))

    out = {"n_rows": n_rows, "n_symbols": n_symbols, "stages": results}
    with open("FE_STAGES.json", "w") as f:
        json.dump(out, f, indent=1)
    print("-> FE_STAGES.json")


if __name__ == "__main__":
    main()
