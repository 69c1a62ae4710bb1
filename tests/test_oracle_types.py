"""Guard: no oracle may output a fetch-path-fragile DuckDB type.

DuckDB widens integer aggregates (SUM(BIGINT) -> HUGEINT) and keeps
decimal arithmetic in DECIMAL. Both round-trip exactly through
``fetchall()`` but degrade to float64 through pandas/Arrow exports, so a
harness fetching oracle results that way hashes ``123.0`` against Spark's
``123`` — the mechanism behind all five r05 driver-red entries (each
green under the local fetchall checker). Every oracle output column must
therefore land in an export-stable type: CAST integer aggregates to
BIGINT and decimal expressions to DOUBLE at the output projection.

Pure-DuckDB test (no Spark session): runs every registered oracle at
sf0.001 and asserts no HUGEINT/DECIMAL output columns.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
BAD_PREFIXES = ("HUGEINT", "UHUGEINT", "DECIMAL")
# diag_fp_hugeint's s_uncast is HUGEINT ON PURPOSE — it exists to probe
# whether the harness's oracle fetch path widens/floats int128.
EXEMPT = {"diag_fp_hugeint"}


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)
def test_no_fragile_oracle_output_types():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        if name in EXEMPT:
            continue
        rel = con.sql(sql)
        bad = [
            f"{c}:{ty}"
            for c, ty in zip(rel.columns, [str(t) for t in rel.types])
            if ty.upper().startswith(BAD_PREFIXES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "fetch-path-fragile oracle output types (CAST to BIGINT/DOUBLE): "
        f"{offenders}"
    )


NONSCALAR_PREFIXES = ("STRUCT", "MAP", "UNION", "LIST", "ARRAY")


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)
def test_no_nonscalar_oracle_output_types():
    """r08 rule (from the r07 driver-red on simsearch_int8_quant): the
    driver canonicalizes via pandas.sort_values over raw columns, which
    raises ``TypeError: unhashable type`` on list/struct/map cells.
    Top-level output columns must be scalar — project arrays/structs to
    strings (array_to_string/to_json) on both engines."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    offenders = {}
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)
        bad = [
            f"{c}:{ty}"
            for c, ty in zip(rel.columns, [str(t) for t in rel.types])
            if ty.upper().strip().endswith("[]")
            or ty.upper().strip().startswith(NONSCALAR_PREFIXES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "non-scalar oracle output columns (the driver's pandas sort dies "
        f"on these — project to strings): {offenders}"
    )


def test_entry_registry_and_oracle_counts():
    """``__spark_entry__`` exposes the whole registry: 332 entries, 325
    of them oracle-backed, and no oracle without its entry."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) == 332
    assert len(oracles) == 325
    assert set(oracles) <= set(qs), sorted(set(oracles) - set(qs))
