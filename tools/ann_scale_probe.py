"""ANN-join scale probe: does the sign-LSH bucket join stay SPARSE as
both corpora grow — and does the plane-count knob hold it there?

`ann_join` (operators/simsearch.py) is the engine's one sign-LSH top-k,
and the only corpus×corpus shape: both sides bucket by
sign-random-projection and meet in a bucket equi join (a bucket-keyed
shuffle once neither side is small enough to broadcast; at this probe's
sizes Spark may broadcast one side). Its 100 TB failure mode is bucket
DENSITY: with a fixed number of hyperplanes the bucket count is fixed
(2^n_planes per table), so growing the corpus 10x makes every bucket
10x denser and the candidate-pair count grows ~quadratically — the
all-pairs cliff, just delayed. The production answer is the same as
every LSH system's: scale n_planes with log2(corpus) so per-bucket
occupancy (and therefore candidates per row) stays constant, trading a
controlled recall reduction that n_tables buys back.

This probe measures BOTH regimes on deterministic synthetic embeddings
(md5-derived coordinates, so runs are reproducible) at 1x / 3x / 10x:

- regime "fixed":  n_planes frozen at 8 — candidates/left-row should
  grow ~linearly with corpus (the warning);
- regime "scaled": n_planes sized by resolve_n_planes('auto') — the
  operator's r10 DEFAULT (8 + ceil(log2(rows/2000))) — candidates/
  left-row should stay ~flat (the evidence the default survives 100x).

The deterministic candidate-pair counts are the probe's primary
output — they are exact and reproducible. Wall seconds are recorded as
min-of-2 with the regimes INTERLEAVED per scale (fixed then scaled at
each size) so JVM warm-up and host-load drift hit both regimes alike
(ADVICE r09: the earlier regime-serial, single-shot layout let warm-up
and co-tenant bursts masquerade as regime differences); they remain
indicative, not load-controlled — read them next to calib drift.

Usage: python tools/ann_scale_probe.py [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = 2_000
SCALES = (1, 3, 10)
# Probe at the production entry's dimension. This matters for the
# physics, not just fidelity: sign-LSH collision probability for a
# random pair is E[(1 - theta/pi)^planes], and at low dim the angle
# spread around pi/2 is wide enough that the near-collinear tail
# dominates — adding planes then cuts candidates sublinearly (measured
# at dim=16: +4 planes bought only 2.8x, not 16x). At dim=64 the
# cosine concentrates (sd ~ 1/8) and the knob works as designed.
DIM = 64
N_TABLES = 2
BASE_PLANES = 8


def synth_vectors(spark, n: int, salt: str):
    """Deterministic embeddings: dim coordinates in [-1, 1] derived from
    md5(id:coord:salt) — same construction style as dedup_scale_probe."""
    from pyspark.sql import functions as F

    ids = spark.range(n).select(F.col("id").alias("vec_id"))
    coord = lambda j: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("vec_id").cast("string"),
                                  j.cast("string"), F.lit(salt))),
                1, 8,
            ), 16, 10,
        ).cast("long") % 2001 - 1000
    ).cast("double") / 1000.0
    return ids.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)), coord
        ).cast("array<float>").alias("embedding"),
    )


def candidate_pairs(left, right, n_planes: int) -> int:
    """Replicates ann_join's candidate stage (bucket equi join, pre-rerank,
    post-dedup) with its own bucketing helper and counts it — the
    quantity whose growth rate decides whether the operator survives
    100x. Both sides pass through ensure_parallelism exactly as ann_join
    does, so cand_sec is measured under the production partitioning
    (ADVICE r09)."""
    from pyspark.sql import functions as F

    from big_data_analysis_for_stock_market_data_spark.operators import (
        ensure_parallelism,
    )
    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        _bucket_explode,
    )

    bucket = _bucket_explode(F.col("embedding"), n_planes, N_TABLES, DIM,
                             "hash")

    def bucketed(df, idname):
        return ensure_parallelism(df).select(
            F.col("vec_id").alias(idname), bucket
        )

    return (
        bucketed(left, "__lid").join(bucketed(right, "__rid"), "__bucket")
        .filter(F.col("__lid") != F.col("__rid"))
        .select("__lid", "__rid")
        .distinct()
        .count()
    )


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ANN_SCALE_PROBE.json",
    )
    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        ann_join,
    )
    from big_data_analysis_for_stock_market_data_spark.session import get_session

    from big_data_analysis_for_stock_market_data_spark.operators.simsearch import (
        resolve_n_planes,
    )

    spark = get_session(app_name="ann_scale_probe")
    report: dict = {
        "base_rows_per_side": BASE, "dim": DIM, "n_tables": N_TABLES,
        "base_planes": BASE_PLANES,
        "timing_protocol": "min-of-2, regimes interleaved per scale; "
                           "wall seconds are indicative only — the "
                           "deterministic candidate counts are the "
                           "probe's primary output",
        "regimes": {"fixed": [], "scaled": []},
    }
    # One throwaway pass absorbs JVM/codegen start-up before any timing.
    candidate_pairs(
        synth_vectors(spark, BASE, "W").localCheckpoint(),
        synth_vectors(spark, BASE, "W2").localCheckpoint(),
        BASE_PLANES,
    )
    for scale in SCALES:
        n = BASE * scale
        left = synth_vectors(spark, n, "L").localCheckpoint()
        right = synth_vectors(spark, n, "R").localCheckpoint()
        for regime in ("fixed", "scaled"):
            planes = (
                BASE_PLANES if regime == "fixed"
                # the operator's own auto sizing — the r10 default
                else resolve_n_planes("auto", corpus_rows=n)
            )
            cands, t_cand, matched, t_join = 0, [], 0, []
            for _ in range(2):
                t0 = time.time()
                cands = candidate_pairs(left, right, planes)
                t_cand.append(time.time() - t0)
                t0 = time.time()
                matched = ann_join(left, right, k=1, dim=DIM,
                                   n_planes=planes,
                                   n_tables=N_TABLES).count()
                t_join.append(time.time() - t0)
            row = {
                "scale": scale, "rows_per_side": n, "n_planes": planes,
                "candidate_pairs": cands,
                "candidates_per_left_row": round(cands / n, 3),
                "matched_left_rows": matched,
                # any-match coverage (fraction of left rows with >=1
                # candidate), NOT true nearest-neighbor recall
                "matched_left_frac": round(matched / n, 3),
                "cand_sec": round(min(t_cand), 2),
                "join_sec": round(min(t_join), 2),
            }
            report["regimes"][regime].append(row)
            print(f"{regime:6s} x{scale:<3d} n={n:<6d} planes={planes} "
                  f"cands={cands} ({row['candidates_per_left_row']}/row) "
                  f"matched={matched} cand={row['cand_sec']}s "
                  f"join={row['join_sec']}s")

    fixed = report["regimes"]["fixed"]
    scaled = report["regimes"]["scaled"]
    report["verdict"] = {
        # deterministic, load-independent — the headline numbers
        "fixed_cand_per_row_growth_1x_to_10x": round(
            fixed[-1]["candidates_per_left_row"]
            / max(fixed[0]["candidates_per_left_row"], 1e-9), 2),
        "scaled_cand_per_row_growth_1x_to_10x": round(
            scaled[-1]["candidates_per_left_row"]
            / max(scaled[0]["candidates_per_left_row"], 1e-9), 2),
        "fixed_to_scaled_candidate_ratio_at_10x": round(
            fixed[-1]["candidate_pairs"]
            / max(scaled[-1]["candidate_pairs"], 1), 2),
        "note": "Lead with the candidate ratios above: they are exact "
                "and decide the scaling law (fixed planes -> per-row "
                "candidates grow ~linearly with corpus = quadratic total "
                "pairs; auto-sized planes hold growth near-flat at "
                "matched_left_frac ~0.99+, which is any-match COVERAGE, "
                "not true-NN recall). Wall seconds are min-of-2 and "
                "regime-interleaved but still host-load-indicative only. "
                "Residual growth is the angle-spread tail "
                "(E[(1-theta/pi)^P] decays slower than 2^-P even at "
                "dim 64). As of r10 the sizing rule IS the operator "
                "default: n_planes='auto' -> resolve_n_planes "
                "(operators/simsearch.py), pinned by "
                "tests/test_simsearch.py::test_resolve_n_planes_formula.",
    }
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(f"-> {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
