"""End-to-end benchmark of the engine: page-store backfill and streaming
catch-up.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans are also written to
``.perfbench_out/trace-<workload>-<seed>.json``. The line before it is a
JSON provenance record (host, versions, input sizes, seed). Spark logs go
to standard error. Everything the run writes stays under the checkout
and the run's scratch directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"

E2E_UNITS = {
    "setup_s": "s",
    "latency_s.p50": "s",
}


def _layer_unit(name: str) -> str:
    if name.endswith(("_s", "_s.p50", "_s.max")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and
    make the engine importable in Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    # No hsperfdata files in /tmp from the launcher or the driver JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_jvm(spark) -> None:
    """Stop Spark, then end the JVM (and with it the Python workers it
    forked) and wait for it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _versions(spark) -> dict:
    return {
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "stream_catchup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "polygon_algotrading_env_spark")):
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

    import numpy as np

    import workloads
    from polygon_algotrading_env_spark.session import get_spark
    from spans import PeakRss

    state = {}

    def spark_factory():
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        state["spark"] = spark
        if args.trace:
            state["rss"] = PeakRss(spark.sparkContext._gateway.proc.pid)
            state["rss"].start()
        return spark

    run = getattr(workloads, args.workload)
    try:
        out = run(spark_factory, work, args.seed, args.seconds, bool(args.trace))
        if args.trace:
            state["rss"].stop()
        provenance = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            **_versions(state["spark"]),
            "inputs": out.inputs,
            "ops": len(out.op_walls),
            "op_walls_s": [round(w, 4) for w in out.op_walls],
            "rows_per_op": out.rows_per_op,
            "check_errors": out.check_errors,
        }
        walls = out.op_walls
        p50 = float(np.median(walls)) if walls else 0.0
        provenance["rows_per_s"] = out.rows_per_op / p50 if walls else 0.0
        if args.trace:
            tracer = out.tracer
            layers = {n: 0.0 for n in workloads.per_layer_names()}
            layers.update(out.layers)
            layers["peak_rss_mb"] = state["rss"].peak / 2**20
            layers["latency_s.max"] = max(walls) if walls else 0.0
            layers["trace.overhead_s"] = tracer.overhead_s
            layers["trace.latency_s.p50"] = p50
            metrics = {n: {"value": v, "unit": _layer_unit(n)} for n, v in layers.items()}
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"trace-{args.workload}-{args.seed}.json"))
        else:
            values = {"setup_s": out.setup_s, "latency_s.p50": p50}
            metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in values.items()}
    finally:
        if "spark" in state:
            _stop_jvm(state["spark"])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps(provenance))
    print(json.dumps({
        "correct": not out.check_errors and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
