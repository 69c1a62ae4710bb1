"""Dump ``.explain("formatted")`` for headline (or named) queries into
``plans/<query>_<tag>.txt`` — before/after evidence for a plan change.

Usage: python tools/dump_plans.py <tag> [query ...]
       (no query names = every bench HEADLINE entry)

The tag is normally ``before`` or ``after``. Plans are built against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1); building the DataFrame
is plan-only work — no query executes — EXCEPT entries whose operators run
a sizing count at build time (simsearch n_planes='auto') or an eager
localCheckpoint, which launch their small control-plane jobs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    tag = sys.argv[1]
    names = sys.argv[2:]

    import bench
    from big_data_analysis_for_stock_market_data_spark import queries as registry
    from big_data_analysis_for_stock_market_data_spark.plans import inspect as P
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_session(app_name="dump_plans")
    qs = registry.queries()
    if not names:
        names = bench.HEADLINE
    for name in names:
        df = qs[name](spark, sf_dir)
        text = P.explain_str(df, "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        n_ex = text.count("Exchange hashpartitioning") + text.count(
            "Exchange rangepartitioning") + text.count(
            "Exchange SinglePartition") + text.count(
            "Exchange RoundRobinPartitioning")
        print(f"{name}: {len(text.splitlines())} lines, ~{n_ex} exchanges "
              f"-> {os.path.relpath(path)}")


if __name__ == "__main__":
    main()
