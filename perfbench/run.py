"""Benchmark of the stock analytics engine: one workload per invocation.

    python3 perfbench/run.py --workload ref_fe_rf --seed 7 --seconds 10 \
        --trace 0

Runs from the root of a checkout of the repository, on ``local[4]``, as a
closed loop with one client: each iteration starts when the previous one
has finished. One run

1. starts the engine session (``session.get_session``);
2. sets up (inputs generated from ``--seed``, written to parquet, scanned);
3. runs the output checks once;
4. sets up SETUP_REPS - 1 more times and reports the median of all set-ups
   as ``setup_s``;
5. runs the workload's warm-up iterations;
6. times as many iterations as fill ``--seconds`` at the workload's
   nominal iteration time, and reports their median as ``iter_s``.

With ``--trace 1`` it instead reports the per-layer metrics: every call
into the package runs under its own Spark job group and is charged with
what Spark's status stores recorded for it (see sparkstats.py), and the
timed iterations run traced (``trace.iter_s``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before it
name every end-to-end figure with its unit, ``failed_frac`` and (for the
RandomForest workload) ``roc_auc`` included. Everything the run writes
stays under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
SETUP_REPS = 3
#: the engine's session defaults ask for a 24g heap, more than a 15 GB
#: host has; the benchmark pins a heap its inputs fit in many times over
DRIVER_MEMORY = "3g"

WORKLOADS = ("ref_fe_rf", "registry")
END_TO_END = {"setup_s": "s", "iter_s": "s"}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in one fixed set for all workloads; a layer
    a workload does not exercise reads 0 there."""
    from registryload import MODULE_FIELDS, MODULES
    from stockload import PY_FIELDS, STAGE_FIELDS, STAGES

    names = [f"{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    names += ["stock.hints.jobs"] + [f"indicators.{f}" for f in PY_FIELDS]
    names += [f"registry.{m}.{f}" for m in MODULES for f in MODULE_FIELDS]
    names += ["session.start_s", "session.jvm_peak_rss_mb",
              "session.driver_peak_rss_mb", "session.worker_peak_rss_mb",
              "spark.failed_tasks", "trace.iter_s", "trace.overhead_s"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("jobs") or name.endswith("tasks"):
        return "count"
    return "s"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="toy-size inputs (for the self-test)")
    return p.parse_args(argv)


def start_session(workdir: str):
    from big_data_analysis_for_stock_market_data_spark.session import (
        get_session,
    )

    return get_session(
        app_name="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        configs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to
    exit: the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def make_workload(spark, args, workdir):
    if args.workload == "registry":
        from registryload import RegistryWorkload as cls
    else:
        from stockload import StockWorkload as cls
    return cls(spark, args.seed, args.toy, workdir, CORES)


def iterations_for(wl, seconds: float) -> int:
    """How many timed iterations fill ``seconds`` at the workload's nominal
    iteration time. The count depends only on ``seconds``, never on how
    fast this run happens to be: iterations still get faster for a while
    after warm-up (the JVM keeps compiling), so a speed-dependent count
    would change which iterations the median sees."""
    return max(1, round(seconds / wl.NOMINAL_ITER_S))


def measure(wl, n: int, tracer=None) -> tuple[list[float], int, int]:
    """Closed loop: ``n`` iterations back to back. Returns (iteration
    times, attempted, failed)."""
    times: list[float] = []
    failed = 0
    for _ in range(n):
        t0 = time.perf_counter()
        try:
            if tracer is None:
                ok = wl.iterate()
            else:
                with tracer.call("iteration"):
                    ok = wl.iterate()
        except Exception as exc:  # noqa: BLE001 - a failed operation
            wl.problems.append(f"iteration raised {exc!r}"[:300])
            ok = False
        times.append(time.perf_counter() - t0)
        failed += not ok
    return times, len(times), failed


def measure_alternating(wl, n: int, tracer):
    """``n`` traced and ``n`` untraced iterations in turn, so both see the
    same warm state: (traced times, untraced times, attempted, failed)."""
    traced_times: list[float] = []
    untraced_times: list[float] = []
    attempted = failed = 0
    for _ in range(n):
        for times, t in ((traced_times, tracer), (untraced_times, None)):
            ts, k, f = measure(wl, 1, t)
            times.extend(ts)
            attempted += k
            failed += f
        tracer.collect()
    return traced_times, untraced_times, attempted, failed


def run(args, workdir: str) -> dict:
    t_start = time.perf_counter()
    spark = start_session(workdir)
    session_s = time.perf_counter() - t_start
    try:
        wl = make_workload(spark, args, workdir)

        def setup_once() -> float:
            t0 = time.perf_counter()
            wl.setup_once()
            return time.perf_counter() - t0

        setup = [setup_once()]
        attempted, failed = 1, 0
        try:
            checks_ok = wl.check_once()
        except Exception as exc:  # noqa: BLE001 - a failed operation
            wl.problems.append(f"output check raised {exc!r}"[:300])
            checks_ok = False
        failed += not checks_ok
        # the first set-up paid for starting every engine path cold; the
        # repeats set up the same inputs again on a warmer engine
        setup += [setup_once() for _ in range(SETUP_REPS - 1)]
        # warm-up: the checks ran part of the pipeline but not all of an
        # iteration (the fit, the entries' noop writes); the JVM is still
        # compiling hot code for the first few iterations
        _, n, f = measure(wl, wl.WARMUP_ITERATIONS)
        attempted += n
        failed += f
        count = iterations_for(wl, args.seconds)
        if args.trace:
            result, n, f = traced(spark, wl, count, session_s)
        else:
            times, n, f = measure(wl, count)
            log(f"set-ups {[round(t, 3) for t in setup]} s, "
                f"iterations {[round(t, 3) for t in times]} s")
            result = {"setup_s": statistics.median(setup),
                      "iter_s": statistics.median(times),
                      "samples": n}
        result.update(attempted=attempted + n, failed=failed + f,
                      problems=wl.problems, extra=wl.extra_metrics())
        return result
    finally:
        stop_session(spark)


def traced(spark, wl, count: int, session_s: float):
    """The per-layer metrics: the workload's own layer spans, then traced
    and untraced iterations in turn. Returns (result, attempted, failed)."""
    from sparkstats import MemorySampler, Tracer

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with MemorySampler(jvm_pid) as mem:
        tracer = Tracer(spark)
        layers = dict.fromkeys(per_layer_names(), 0.0)
        layers.update(wl.trace_layers(tracer))
        times, untraced, n, f = measure_alternating(wl, count, tracer)
    if tracer.evicted:
        log(f"{tracer.evicted} stages left Spark's status store before "
            "they were collected; their metrics are missing")
    layers.update({
        "session.start_s": session_s,
        "session.jvm_peak_rss_mb": mem.jvm_mb,
        "session.driver_peak_rss_mb": mem.driver_mb,
        "session.worker_peak_rss_mb": mem.worker_mb,
        "spark.failed_tasks": float(tracer.failed_tasks),
        "trace.iter_s": statistics.median(times),
        "trace.overhead_s":
            statistics.median(times) - statistics.median(untraced),
    })
    return {"layers": layers}, n, f


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import big_data_analysis_for_stock_market_data_spark  # noqa: F401
        import pyspark  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    # Python workers import the package; every temporary file stays inside
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM (Spark's launcher and the Spark driver) keeps its temporary files
    # there too, and writes no perf-data file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass

    attempted, failed = result["attempted"], result["failed"]
    for p in result["problems"]:
        print(f"problem: {p}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": result[k], "unit": u}
                   for k, u in END_TO_END.items()}
        print(f"setup_s {result['setup_s']:.4f} s (median of {SETUP_REPS})")
        print(f"iter_s {result['iter_s']:.4f} s "
              f"(median of {result['samples']} iterations)")
    print(f"failed_frac {failed / attempted:.4f} ratio "
          f"({failed} of {attempted} operations)")
    for k, (v, unit) in result["extra"].items():
        print(f"{k} {v!r} {unit}")
    print(json.dumps({
        "correct": failed == 0 and not result["problems"],
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
