"""Run the benchmark several times and keep every result.

    python3 perfbench/repeat.py OUT_DIR [--workloads a,b] [--seeds 1,2,3]
        [--seconds 10] [--trace 0]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
from the root of the checkout this file is in, and saves each run's result
object as ``OUT_DIR/<workload>-<seed>.json``. Then prints, per workload and
end-to-end metric, the median, the quartiles and their distance as a share
of the median (the spread the benchmark's bounds are judged against), and
the wall time of the slowest run. Two OUT_DIRs made this way, one per
commit, are what ``compare.py`` compares.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, first quartile, third quartile, IQR / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    os.makedirs(args.out_dir, exist_ok=True)

    bad = 0
    for wl in args.workloads.split(","):
        results, walls = [], []
        for seed in args.seeds.split(","):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", wl, "--seed", seed,
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                bad += 1
                continue
            result = json.loads(lines[-1])
            with open(os.path.join(args.out_dir, f"{wl}-{seed}.json"),
                      "w") as fh:
                json.dump(result, fh)
            results.append(result)
            if not result["correct"]:
                print(f"{wl} seed {seed}: incorrect\n" + "\n".join(lines[:-1]))
                bad += 1
        if not results:
            continue
        print(f"{wl}: {len(results)} runs, slowest {max(walls):.1f} s wall, "
              f"total {sum(walls):.1f} s")
        for name in results[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in results]
            med, q1, q3, rel = spread(values)
            print(f"  {name:40s} median {med:10.4f}  q1 {q1:10.4f}  "
                  f"q3 {q3:10.4f}  iqr/median {rel:.3f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
