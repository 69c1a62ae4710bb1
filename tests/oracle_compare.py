"""Registry-entry check shared by the test modules: run one entry at the
sf0.01 test data and hash-compare it with its DuckDB oracle, the way
``tools/check_correctness.py`` does — both sides through pandas, an
order-insensitive value hash."""

import os

from test_io_footer_schema import SF


def assert_matches_oracle(spark, name):
    import duckdb

    from big_data_analysis_for_stock_market_data_spark.queries import (
        oracle_sql,
        queries,
    )
    from tools.check_correctness import TABLES, table_hash

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    got = queries()[name](spark, SF).toPandas()
    res = con.execute(oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    want = res.df()
    con.close()
    srows = list(got.itertuples(index=False, name=None))
    orows = list(want.itertuples(index=False, name=None))
    assert srows and len(srows) == len(orows)
    assert sorted(got.columns) == sorted(ocols)
    assert table_hash(srows, list(got.columns)) == table_hash(orows, ocols)
