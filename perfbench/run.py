"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,screen} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  Generates the workload's inputs from the
seed, runs it on local[nproc], checks every result, and prints one JSON
object as the last line of standard output: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Everything the
run writes goes under ``.perfbench_work/`` in the current directory and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SPEC = os.path.join(HERE, "..", "BENCHMARK.json")


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM, the spark-submit launcher included; the driver heap is the
    # one get_spark ships (SPARKSONAR_DRIVER_MEM, 16g by default)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Dderby.system.home={tmp}"'
        f" --conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={tmp}/warehouse pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def _spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "screen"))
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the harness contract; every window is a fixed operation mix
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _spec()
    if not os.path.isdir(os.path.join(ROOT, "covsonar_spark")):
        print(f"no covsonar_spark package under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _env(work)
    sys.path[:0] = [HERE, ROOT]
    from harness import Run
    import workloads

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(work, args.seed, bool(args.trace))
    try:
        e2e = getattr(workloads, args.workload)(run)
    finally:
        try:
            run.stop_session()
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            _rmdir_if_empty(os.path.join(ROOT, ".perfbench_work"))

    correct = not run.check_errors and run.checks > 0 and run.attempted > run.failed
    print(result_line(spec, bool(args.trace), run.layer if args.trace else e2e,
                      run.attempted, run.failed, correct))
    return 0


def result_line(spec: dict, trace: bool, values: dict, attempted: int, failed: int,
                correct: bool) -> str:
    """The JSON result: every per-layer metric of ``spec`` when traced (a
    layer the workload does not exercise reads 0), else every end-to-end
    metric (null when no successful operation stands behind it)."""
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        v = values.get(m["name"])
        if trace and v is None:
            v = 0
        elif v is not None and math.isnan(v):
            v = None
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    worker daemons) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def _rmdir_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
