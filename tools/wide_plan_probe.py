"""Wide-plan scale probe: do the five highest-exchange-count registry
entries stay ~linear at 10x the bench scale?

PLAN_AUDIT pins their exchange budgets (12-16 exchanges), but exchange
COUNT can hide a blow-up the sf0.1 bench can't see (a candidate set that
grows quadratically, a window whose per-key state balloons). This probe
builds a 10x corpus by replicating the sf0.1 tables with KEY SHIFTING so
cardinalities scale the way a bigger corpus actually scales:

- events: event_id/user_id shift per replica (10x users, same days —
  heavier per-day windows, 10x user keyspace);
- orders/lineitem: orderkey shift, custkey shift (10x orders, same
  supplier/part dims — dims don't grow at data scale);
- documents: doc_id shift plus a PER-REPLICA TOKEN RENAMING (every token
  suffixed with the replica id). Token renaming is a Jaccard isomorphism:
  within-replica similarity structure (planted near-dups) is preserved
  exactly, while cross-replica similarity collapses to ~0 — so near-dup
  DENSITY stays constant and the probe measures scaling, not a 10x-dup
  corpus artifact.

Each entry runs at 1x and 10x (noop sink, min-of-2 after a warm-up pass
at 1x); ratio > SUPERLINEAR_FLAG x scale flags the entry. Writes
WIDE_PLAN_PROBE.json.

Usage: python tools/wide_plan_probe.py [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE = 10
ENTRIES = (
    "text_contamination_check",
    "w_rolling_active_users",
    "dedup_ngram_jaccard",
    "a11_funnel_conversion",
    "q21_sole_late_supplier",
    # r05 additions: the char-window inverted index is the entry with
    # quadratic RISK (pair blow-up without the doc-freq cap); the chained
    # rollup is the entry with multi-operator STATE risk (two stateful
    # aggs in one streaming query at 10x the user keyspace)
    "dedup_exact_substring",
    "stream_chained_rollup",
    # r05 third batch: the bigram LM is the newest high-exchange entry —
    # pair stream linear in tokens, but the bigram vocabulary (and its
    # left-context rollup) is the part worth measuring at 10x; replica
    # token renaming makes cross-replica bigrams distinct, so the vocab
    # scales the way a genuinely bigger corpus scales
    "text_bigram_logprob",
    # r06: BPE training's rounds are vocab-bound by design — the corpus
    # contributes one explode+count pass (checkpointed), so 10x docs with
    # per-replica token renaming (10x vocab too) must stay ~linear
    "text_bpe_merges",
    # late r06: the wedge self-join is THE quadratic-risk plan of the
    # common-neighbor entry; l_partkey shifting keeps each replica's
    # co-purchase graph disjoint, so 10x data = 10 independent graphs —
    # the honest growth shape (without the shift, fixed part dims
    # densify the graph, which measures densification, not scaling)
    "g6_common_neighbors",
)
#: 10x data on fixed cores is linear at ratio <= 10; headroom for shuffle
#: constants before we call it superlinear.
SUPERLINEAR_FLAG = 13.0

SHIFTS = {
    # table -> (id columns to shift, shift stride per replica)
    "events": ({"event_id": 10_000_000, "user_id": 1_000_000}, None),
    "orders": ({"o_orderkey": 10_000_000, "o_custkey": 1_000_000}, None),
    "lineitem": ({"l_orderkey": 10_000_000, "l_partkey": 10_000_000}, None),
    "documents": ({"doc_id": 1_000_000}, "text"),
}
COPY_AS_IS = (
    "supplier", "customer", "nation", "part", "region", "embeddings",
)


def build_scaled(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.sources.io import (
        read_parquet,
    )

    for t in COPY_AS_IS:
        shutil.copy(
            os.path.join(SF_DIR, f"{t}.parquet"),
            os.path.join(out_dir, f"{t}.parquet"),
        )
    for t, (shifts, rename_text) in SHIFTS.items():
        base = read_parquet(spark, os.path.join(SF_DIR, f"{t}.parquet"))
        parts = []
        for i in range(SCALE):
            rep = base
            for col, stride in shifts.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(i * stride))
            if rename_text and i > 0:
                # Jaccard-isomorphic token renaming (see module docstring)
                rep = rep.withColumn(
                    rename_text,
                    F.regexp_replace(F.col(rename_text), r"(\S+)", f"$1{i}"),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))


def run_entry(fn, spark, sf_dir: str, n_runs: int = 2) -> float:
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return round(best, 2)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "WIDE_PLAN_PROBE.json"

    from big_data_analysis_for_stock_market_data_spark import queries as registry
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    spark = get_session(app_name="wide_plan_probe")
    q = registry.queries()

    scaled_dir = tempfile.mkdtemp(prefix="engine_sf1_")
    print(f"building {SCALE}x corpus in {scaled_dir} ...")
    t0 = time.time()
    build_scaled(spark, scaled_dir)
    print(f"  built in {time.time() - t0:.1f}s")

    points = {}
    flagged = []
    for name in ENTRIES:
        fn = q[name]
        # one failing entry must not lose the whole artifact: record the
        # error and keep probing
        try:
            run_entry(fn, spark, SF_DIR, n_runs=1)  # warm-up (codegen)
            t1 = run_entry(fn, spark, SF_DIR)
            t10 = run_entry(fn, spark, scaled_dir)
        except Exception as e:  # noqa: BLE001
            points[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
            flagged.append(name)
            print(f"  {name}: ERROR {type(e).__name__}")
            continue
        ratio = round(t10 / t1, 2) if t1 > 0 else None
        points[name] = {"sec_1x": t1, "sec_10x": t10, "ratio": ratio}
        if ratio and ratio > SUPERLINEAR_FLAG:
            flagged.append(name)
        print(f"  {name}: 1x {t1}s, {SCALE}x {t10}s, ratio {ratio}")

    payload = {
        "sf_dir": SF_DIR,
        "scale": SCALE,
        "superlinear_flag_ratio": SUPERLINEAR_FLAG,
        "entries": points,
        "flagged_superlinear": flagged,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"-> {out_path}; flagged: {flagged or 'none'}")
    shutil.rmtree(scaled_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
