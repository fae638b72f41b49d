#!/usr/bin/env python3
"""The fiat2-spark benchmark: one command, three named workloads.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the run
also times calls into each engine layer and reads Spark's counters, and
the metrics are the per-layer ones. The line before it holds the whole
record (per-op-type medians, host controls, failure notes).

The first process pins the environment (CPU count, driver heap, hash
seed, a private TMPDIR and SPARK_LOCAL_DIRS under `.bench_build/`), runs
the workload in a child process of its own session, and afterwards stops
every process the run left and removes the run directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEM = "2g"
WORKLOADS = ("batch_queries", "index_updates", "serve_http")

# name -> unit, for every metric either mode can print
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "p50_geomean_ms": "ms",
    "cpu_ms_per_op": "ms",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# the first process: environment, child, clean-up
# ---------------------------------------------------------------------------

def _group_pids(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        out.append(int(name))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _stop_group(pgid: int) -> None:
    """Stop every process left in the child's session and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def launch(argv) -> int:
    _args(argv)  # reject bad arguments before building anything
    if not os.path.isfile(os.path.join(ROOT, "fiat2_spark", "__init__.py")):
        print(f"perfbench: no fiat2_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(
        os.environ,
        PERFBENCH_RUN_DIR=run_dir,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env=env, cwd=run_dir, start_new_session=True,
    )
    try:
        code = child.wait()
    except BaseException:
        child.kill()
        child.wait()
        raise
    finally:
        _stop_group(child.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


# ---------------------------------------------------------------------------
# the child: one workload
# ---------------------------------------------------------------------------

class Ctx:
    """What a workload needs: arguments, data, a clock that knows the
    process start, and the time to leave out of `setup_s`."""

    def __init__(self, args):
        from probes import process_age_s

        self.t_proc0 = time.perf_counter() - process_age_s()
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = os.environ["PERFBENCH_RUN_DIR"]
        self.excluded_s = 0.0
        self.rng = random.Random(args.seed)

    def data(self, sf: float) -> str:
        import datagen

        t = time.perf_counter()
        out = datagen.ensure(os.path.join(BUILD, "data"), sf)
        self.excluded_s += time.perf_counter() - t
        return out

    def setup_s(self, t_first_op: float) -> float:
        """Process start to the first timed op, less data generation and
        output-check preparation."""
        return t_first_op - self.t_proc0 - self.excluded_s

    def spark(self):
        """Start the engine's session; returns (spark, seconds taken)."""
        from fiat2_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        return spark, time.perf_counter() - t


def timed_rounds(seconds: float, round_fn) -> float:
    """Run `round_fn()` until at least `seconds` have passed, always
    finishing the round begun; returns the wall time taken."""
    t0 = time.perf_counter()
    while True:
        round_fn()
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return elapsed


def p50_ms(latencies_s: list[float]) -> float:
    return statistics.median(latencies_s) * 1000.0


def p50_geomean_ms(by_type: dict[str, list[float]]) -> float:
    """Geometric mean, over op types, of each type's median latency (ms).
    A single median over types whose latencies differ many-fold would
    land in the gap between them and jump from run to run; this figure
    moves by the same share whichever type slows."""
    logs = [math.log(p50_ms(lat)) for lat in by_type.values() if lat]
    return math.exp(sum(logs) / len(logs))


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def common_layers(session_s: float, warm_mark: dict, window_mark: dict, e2e: dict) -> dict:
    """The per-layer metrics every traced run reports alike: the session
    start, codegen during the warm pass, and the traced run's own
    end-to-end figures (against an untraced run: the tracing overhead)."""
    return {
        "session.start_s": session_s,
        "warm.codegen_compiles": window_mark["compiles"] - warm_mark["compiles"],
        "warm.codegen_ms": window_mark["compile_ms"] - warm_mark["compile_ms"],
        "traced.ops_per_s": e2e["ops_per_s"],
        "traced.p50_geomean_ms": e2e["p50_geomean_ms"],
    }


def host_controls(spark, sf_dir: str) -> dict:
    """The two fixed host-regime jobs of the repository's bench harness,
    one shot each: a range -> hash aggregate (CPU) and a lineitem scan
    aggregate (scan)."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    (
        spark.range(0, 20_000_000, 1, 32)
        .select((F.col("id") % 9973).alias("k"), (F.col("id") % 7).alias("v"))
        .groupBy("k").agg(F.sum("v").alias("s"))
        .agg(F.sum("s").alias("t"))
        .collect()
    )
    cpu = time.perf_counter() - t
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    t = time.perf_counter()
    (
        li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"), F.sum("l_extendedprice").alias("p"),
             F.sum("l_discount").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("tq"))
        .collect()
    )
    return {"host.control_cpu_s": cpu, "host.control_scan_s": time.perf_counter() - t}


def per_layer_names() -> dict:
    """Every per-layer metric and its unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def emit(result: dict, trace: bool) -> None:
    """Print the full record, then the result line."""
    print(json.dumps(result, sort_keys=True, default=str))
    if trace:
        units = per_layer_names()
        # a layer the workload never calls spent nothing there
        values = {n: float(result["layers"].get(n, 0.0)) for n in units}
    else:
        units = E2E_UNITS
        values = {n: float(result["e2e"][n]) for n in units}
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))


def child(argv) -> int:
    sys.path.insert(0, HERE)
    args = _args(argv)
    ctx = Ctx(args)
    if args.workload == "batch_queries":
        from batch import main
    elif args.workload == "index_updates":
        from index import main
    else:
        from serve import main
    emit(main(ctx), ctx.trace)
    return 0


if __name__ == "__main__":
    if "PERFBENCH_RUN_DIR" in os.environ:
        sys.exit(child(sys.argv[1:]))
    sys.exit(launch(sys.argv[1:]))
