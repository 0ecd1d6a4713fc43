"""Run bookkeeping shared by the workloads: the Spark session and its
restart with the event log on, failure-isolated timed operations,
correctness checks, and the per-layer probes every workload reports."""

from __future__ import annotations

import os
import sys
import traceback

from spans import Span, Tracer


def _pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def p50(xs: list[float]) -> float:
    return _pct(xs, 0.5)


def p90(xs: list[float]) -> float:
    return _pct(xs, 0.9)


class Run:
    """One benchmark run: its Spark session, spans, operation and check
    tallies.  ``work`` is a private directory inside the checkout."""

    def __init__(self, work: str, seed: int, trace: bool):
        self.work, self.seed, self.trace = work, seed, trace
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.check_errors: list[str] = []
        self.checks = 0
        self.spark = None
        self.layer: dict[str, float] = {}
        self.event_log_dir: str | None = None

    # -- session ------------------------------------------------------------

    def start_session(self, event_log: bool = False) -> None:
        """``get_spark`` on local[nproc]; with ``event_log`` the new
        context writes an uncompressed, non-rolled Spark event log under
        the run's work directory.  Spark reads ``spark.*`` JVM system
        properties into every new context's conf, which is how a second
        context in this process gets the log without touching
        ``get_spark``."""
        from covsonar_spark.session import get_spark

        if event_log:
            from pyspark import SparkContext

            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            system = SparkContext._jvm.java.lang.System
            for k, v in (("spark.eventLog.enabled", "true"),
                         ("spark.eventLog.dir", "file://" + self.event_log_dir),
                         ("spark.eventLog.compress", "false"),
                         ("spark.eventLog.rolling.enabled", "false")):
                system.setProperty(k, v)
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            # timed alone only when traced: otherwise the workload's first
            # Spark job starts the workers inside set-up
            with self.tracer.span("pydaemon.warm"):
                self.warm_workers()

    def warm_workers(self) -> None:
        """Start one Python worker per core (pandas/pyarrow imported)."""
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def _ident(s):
            return s

        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, 8 * n, 1, n).select(_ident("id")).write.format("noop").mode("overwrite").save()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -- operations and checks ------------------------------------------------

    def op(self, name: str, fn, **attrs):
        """Time ``fn(span)`` as one operation; a raise is recorded and
        counted as failed, and the run goes on."""
        self.attempted += 1
        first = len(self.tracer.spans)
        try:
            with self.tracer.span(name, **attrs) as s:
                return s, fn(s)
        except Exception:  # noqa: BLE001 — one failed operation must not end the run
            self.failed += 1
            self.tracer.spans[first].attrs["failed"] = True
            print(f"# FAILED {name}: {traceback.format_exc()}", file=sys.stderr)
            return None, None

    def check(self, name: str, errors: list[str]) -> None:
        self.checks += 1
        for e in errors:
            self.check_errors.append(f"{name}: {e}")
            print(f"# CHECK FAILED {name}: {e}", file=sys.stderr)

    def ok_ops(self, name: str, within: Span | None = None) -> list[Span]:
        return [s for s in self.tracer.named(name, within) if not s.attrs.get("failed")]

    # -- traced-run layer numbers --------------------------------------------

    def host_marks(self) -> None:
        from covsonar_spark.metrics import hostmark, hostmark_mt

        self.layer["host.hostmark_s"] = hostmark()
        self.layer["host.hostmark_mt_s"] = hostmark_mt()
        self.layer["jvm.peak_rss_mb"] = self.jvm_peak_rss_mb()

    def session_layers(self) -> None:
        first = self.tracer.named("session.start")[0]
        warm = self.tracer.named("pydaemon.warm")
        self.layer["session.start_s"] = first.dur
        self.layer["pydaemon.warm_s"] = warm[-1].dur


def op_wall(run: Run, root: Span) -> float:
    """Summed wall time of the operations directly under ``root`` (the
    correctness checks between them are not counted)."""
    return sum(s.dur for s in run.tracer.spans if s.parent == root.id and s.name.startswith("op."))


def query_phases(df) -> dict[str, float]:
    """Catalyst phase seconds from a frame's own QueryExecution tracker
    (analysis, optimization, planning); absent phases read 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = b = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(base, f))
    return n, b
