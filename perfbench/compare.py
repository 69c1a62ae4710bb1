"""Compare two sets of benchmark results, e.g. a parent commit and a change.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result objects named ``<workload>-<seed>.json``, as
``repeat.py`` writes them. Runs of the two sides with the same workload and
seed form a pair. Per workload and metric this prints each side's median
and quartiles, the share of pairs the change won (ties count for neither
side), and a verdict:

- ``gain``: the change won at least 9 in 10 pairs, and the medians differ
  by more than the distance between the base's own quartiles;
- ``worse``: the change's median is worse than the base's by more than the
  metric's bound in BENCHMARK.json (end-to-end metrics only);
- ``unresolved``: the base's own spread is wider than the bound, and not
  every change run beat every base run;
- ``same`` otherwise.

Direction ("better": lower/higher) and bounds come from BENCHMARK.json.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d: str) -> dict[tuple[str, str], dict]:
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        wl, _, seed = os.path.basename(path)[:-5].rpartition("-")
        with open(path) as fh:
            out[(wl, seed)] = json.load(fh)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def verdict(base: list[float], change: list[float], won: float,
            lower_better: bool, bound: float | None) -> str:
    q1, med_b, q3 = quartiles(base)
    med_c = statistics.median(change)
    worse_by = (med_c - med_b) if lower_better else (med_b - med_c)
    if won >= 0.9 and abs(med_c - med_b) > q3 - q1:
        return "gain"
    if bound is not None and med_b and worse_by / abs(med_b) > bound:
        return "worse"
    if bound is not None and med_b and (q3 - q1) / abs(med_b) > bound:
        beats = (max(change) < min(base)) if lower_better else (
            min(change) > max(base))
        if not beats:
            return "unresolved"
    return "same"


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    meta = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load(argv[0]), load(argv[1])
    pairs = sorted(set(base) & set(change))
    if not pairs:
        print("no (workload, seed) present on both sides", file=sys.stderr)
        return 2
    print(f"{'workload':12s} {'metric':40s} {'base q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'won':>5s}  verdict")
    for wl in sorted({w for w, _ in pairs}):
        keys = [k for k in pairs if k[0] == wl]
        for name in base[keys[0]]["metrics"]:
            m = meta.get(name, {"better": "lower"})
            lower = m["better"] == "lower"
            b = [base[k]["metrics"][name]["value"] for k in keys]
            c = [change[k]["metrics"][name]["value"] for k in keys]
            wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
            won = wins / len(keys)
            qb, qc = quartiles(b), quartiles(c)
            print(f"{wl:12s} {name:40s} "
                  f"{qb[0]:9.4f} {qb[1]:9.4f} {qb[2]:9.4f}  "
                  f"{qc[0]:9.4f} {qc[1]:9.4f} {qc[2]:9.4f} {won:5.2f}  "
                  f"{verdict(b, c, won, lower, m.get('bound'))}")
    print(f"{len(pairs)} pairs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
