"""The registry workload: one registry entry per operator module, run over
small tables generated from the workload seed.

The tables have the shape of the repository's TPC-H-like test data (same
columns and types, similar value ranges), written by pyarrow, so the
benchmark needs nothing outside its checkout. Every entry's output is
compared with its DuckDB oracle over the same parquet files, using the
order-insensitive hash of ``tools/check_correctness.py``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from big_data_analysis_for_stock_market_data_spark import queries as registry
from big_data_analysis_for_stock_market_data_spark.plans import inspect
from big_data_analysis_for_stock_market_data_spark.sources import io

#: (entry, module it exercises). Entries with no Python node in their plan.
JVM_ENTRIES = (
    ("q1_pricing_summary", "aggregates"),
    ("q5_nation_revenue", "joins"),
    ("asof_join_events", "joins"),
    ("w2_daily_lag_avg", "windows"),
    ("dedup_duplicate_groups", "dedup"),
    ("simsearch_cosine_scores", "simsearch"),
    ("text_quality_stats", "text"),
)
#: Entries whose plan crosses into Python (mapInPandas / applyInPandas).
PYTHON_ENTRIES = (
    ("ind_recursive_family", "indicators"),
    ("mm_png_native_decode", "multimodal"),
)
#: Entries that drain a streaming query while the DataFrame is built.
STREAM_ENTRIES = (
    ("stream_tumbling_daily", "streaming"),
)
ENTRIES = JVM_ENTRIES + PYTHON_ENTRIES + STREAM_ENTRIES
MODULES = ("joins", "aggregates", "windows", "indicators", "dedup",
           "simsearch", "text", "multimodal", "streaming")
MODULE_FIELDS = ("build_s", "exec_s", "build_jobs", "task_run_s",
                 "shuffle_write_mb", "py_run_s", "busy_frac")

#: rows per table at full and toy size
SIZES = {
    "full": {"customer": 300, "orders": 3_000, "lineitem": 12_000,
             "events": 2_000, "users": 150, "documents": 500,
             "embeddings": 500},
    "toy": {"customer": 50, "orders": 300, "lineitem": 1_200,
            "events": 300, "users": 20, "documents": 80, "embeddings": 60},
}

_WORDS = ("the a join hash row batch scan column customer filter small slow "
          "merge order vector line table data agg value key stream window "
          "spark part group big sort query fast").split()


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return _ts(rng.integers(lo, hi, n).astype("datetime64[D]"))


def make_tables(out_dir: str, seed: int, size: str) -> None:
    """Write the registry's input tables, all derived from ``seed``."""
    n = SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            nc,
        ),
    })
    no = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, no), 2),
        "o_orderdate": _days(rng, no, "1992-01-01", "2001-08-02"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, 2_000, nl),
        "l_suppkey": rng.integers(0, 100, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1992-01-02", "2001-11-05"),
    })
    ne = n["events"]
    # distinct microsecond timestamps over 30 days: no ties, so as-of and
    # lag results cannot depend on tie-breaking
    span = 30 * 86_400 * 1_000_000
    offs = rng.choice(span // 1_000, ne, replace=False) * 1_000
    offs += rng.integers(0, 1_000, ne)
    base = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts((base + np.sort(offs)).astype("datetime64[us]")),
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": rng.choice(
            ["click", "error", "purchase", "signup", "view"], ne
        ),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.1:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], nd,
                           p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i % 5}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vecs = (rng.standard_normal((nv, 64)) * 0.125).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


class RegistryWorkload:
    # the output-check pass builds and runs every entry: it is the warm-up
    WARMUP_ITERATIONS = 0
    NOMINAL_ITER_S = 6.0

    def __init__(self, spark, seed: int, toy: bool, workdir: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.size = "toy" if toy else "full"
        self.cores = cores
        self.dir = os.path.join(workdir, "tables")
        self.fns = registry.queries()
        self.problems: list[str] = []
        # the pass order is shuffled by the seed, once per run
        self.order = list(ENTRIES)
        random.Random(seed).shuffle(self.order)
        if toy:  # two entries of each kind
            self.order = [e for e in self.order if e in (
                JVM_ENTRIES[:2] + PYTHON_ENTRIES + STREAM_ENTRIES)]

    # -- set-up ---------------------------------------------------------
    def setup_once(self) -> None:
        """Generate the tables from the seed and scan each once."""
        make_tables(self.dir, self.seed, self.size)
        for f in sorted(os.listdir(self.dir)):
            io.read_parquet(self.spark, os.path.join(self.dir, f)).count()

    def check_once(self) -> bool:
        """Workload-split guard and oracle check, one cold pass over the
        entries: a JVM entry must have no Python stage, a Python entry must
        have one, and each output must hash-equal its DuckDB oracle."""
        import duckdb
        from tools.check_correctness import nonscalar_cols, table_hash

        con = duckdb.connect()
        for f in sorted(os.listdir(self.dir)):
            con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, f)}')")
        oracles = registry.oracle_sql()
        ok = True
        for name, _module in self.order:
            df = self.fns[name](self.spark, self.dir)
            py = inspect.python_stages(df)
            if (name, _module) in JVM_ENTRIES and py:
                self.problems.append(f"{name}: JVM entry has Python {py}")
                ok = False
            if (name, _module) in PYTHON_ENTRIES and not py:
                self.problems.append(f"{name}: Python entry has no Python")
                ok = False
            got = df.toPandas()
            srows = list(got.itertuples(index=False, name=None))
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = list(res.df().itertuples(index=False, name=None))
            if not srows:
                self.problems.append(f"{name}: no rows")
                ok = False
            elif nonscalar_cols(srows, list(got.columns)):
                self.problems.append(f"{name}: non-scalar output")
                ok = False
            elif (len(srows) != len(orows)
                  or sorted(got.columns) != sorted(ocols)
                  or table_hash(srows, list(got.columns))
                  != table_hash(orows, ocols)):
                self.problems.append(f"{name}: differs from its oracle")
                ok = False
        con.close()
        return ok

    # -- one iteration --------------------------------------------------
    def iterate(self) -> bool:
        """One pass over the entries: build each, write it to a noop sink."""
        for name, _module in self.order:
            self.fns[name](self.spark, self.dir).write.format("noop").mode(
                "overwrite").save()
        return True

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        return {}

    # -- traced run -----------------------------------------------------
    def trace_layers(self, tracer) -> dict[str, float]:
        """One pass with each entry's build and noop write traced apart,
        charged to the module the entry exercises."""
        for name, module in self.order:
            with tracer.call(f"{module}.build"):
                df = self.fns[name](self.spark, self.dir)
            with tracer.call(f"{module}.exec"):
                df.write.format("noop").mode("overwrite").save()
        acc = {m: dict.fromkeys(MODULE_FIELDS, 0.0) for m in MODULES}
        for c in tracer.collect():
            module, part = c.name.split(".")
            a = acc[module]
            a[f"{part}_s"] += c.wall_s
            if part == "build":
                a["build_jobs"] += c.jobs
            a["task_run_s"] += c.task_run_s
            a["shuffle_write_mb"] += c.shuffle_write_mb
            a["py_run_s"] += c.py_run_s
        out: dict[str, float] = {}
        for m, a in acc.items():
            wall = a["build_s"] + a["exec_s"]
            a["busy_frac"] = a["task_run_s"] / (wall * self.cores) if wall else 0.0
            for f in MODULE_FIELDS:
                out[f"registry.{m}.{f}"] = a[f]
        return out
