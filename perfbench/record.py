"""Make the committed traced record and its per-layer table.

    python3 perfbench/record.py [--seed 7] [--out perfbench/results/traced_record.json]

Runs every workload once with ``--trace 1`` and writes their per-layer
metrics to one JSON file, then prints them as a markdown table (one column
per workload, layers a workload does not exercise left blank) for the doc.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def table(record: dict) -> str:
    wls = list(record["workloads"])
    names = list(record["workloads"][wls[0]]["metrics"])
    rows = [f"| metric | unit | {' | '.join(wls)} |",
            "|---|---|" + "---:|" * len(wls)]
    for name in names:
        cells = []
        for wl in wls:
            v = record["workloads"][wl]["metrics"][name]["value"]
            cells.append("" if v == 0 else f"{v:.3f}")
        if any(cells):
            unit = record["workloads"][wls[0]]["metrics"][name]["unit"]
            rows.append(f"| `{name}` | {unit} | {' | '.join(cells)} |")
    return "\n".join(rows)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--out",
                   default=os.path.join(HERE, "results", "traced_record.json"))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    record = {"seed": args.seed, "seconds": bench["run_seconds"],
              "host": f"{os.cpu_count()} cores, local[4]", "workloads": {}}
    for w in bench["workloads"]:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", w["name"], "--seed", str(args.seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(proc.stdout, file=sys.stderr)
            return 1
        record["workloads"][w["name"]] = result
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(table(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
