"""Shared machinery: the Spark session, the run's work directory,
percentiles, memory, correctness bookkeeping and the result line."""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from perfbench.sparkstats import StatusCounters
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Workload state (logs, checkpoints, Spark scratch) lives under the
# checkout and is removed when the run ends; traces are kept.
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")
TRACE_DIR = os.path.join(ROOT, "perfbench", "out")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def p50(values) -> float:
    return float(statistics.median(values))


def p90(values) -> float:
    """90th percentile; the median for fewer than two samples."""
    values = list(values)
    if len(values) < 2:
        return float(values[0])
    return float(statistics.quantiles(values, n=10)[8])


def progress_time(iso: str) -> float:
    """Epoch seconds of a ``StreamingQueryProgress.timestamp``."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# StreamingQueryProgress.durationMs phases of a micro-batch, in the
# order they run; those before addBatch run before any deliver
PHASES_BEFORE_DELIVER = ("latestOffset", "walCommit", "getBatch", "queryPlanning")
TRIGGER_PHASES = PHASES_BEFORE_DELIVER + ("addBatch", "commitOffsets")


def record_trigger(tracer: Tracer, start: float, durations: dict, trace: str, **attrs):
    """A trigger span from one progress report, with its phases as
    children laid out in the order they run; returns the span id."""
    sid = tracer.record("trigger", start, start + durations.get("triggerExecution", 0) / 1e3,
                        trace, **attrs)
    t = start
    for phase in TRIGGER_PHASES:
        ms = durations.get(phase, 0)
        tracer.record(f"trigger.{phase}", t, t + ms / 1e3, trace, parent=sid)
        t += ms / 1e3
    return sid


def log_files(path: str) -> int:
    """Parquet files under a log directory."""
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def mean(values) -> float:
    values = list(values)
    return float(sum(values) / len(values)) if values else 0.0


@dataclass
class Checks:
    """Operations attempted and failed: emits, delivery checks,
    queries and oracle comparisons all count."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        if len(self.notes) < 50:
            self.notes.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def expect(self, cond: bool, what: str) -> None:
        if cond:
            self.ok()
        else:
            self.fail(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Bench:
    """One benchmark run: owns the session, the work directory, the
    tracer and the correctness tally, and tears all of them down."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.checks = Checks()
        self.tracer = Tracer(enabled=trace)
        self.work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.stats: StatusCounters | None = None
        self.session_start_s = 0.0
        # filled by the workload
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.setup_s = 0.0
        # traced runs: Spark totals and wall time per operation, and
        # (blocking-path self time, end-to-end time) per traced sample
        self.op_totals: list = []
        self.op_walls_ms: list[float] = []
        self.paths: list[tuple[float, float]] = []

    # -- lifecycle ------------------------------------------------------

    def start(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp  # Python workers and the gateway
        from aoseventstreamer_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            cpus=cores(),
            extra_conf={
                # keep every job and stage of the run in the status
                # store; an eviction is reported as an error
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "100",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "1g",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Xss16m -Xms1g -Djava.io.tmpdir={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()  # first job: scheduler and codegen up
        self.session_start_s = time.perf_counter() - t0
        self.stats = StatusCounters(self.spark)

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run is using it
            os.rmdir(WORK_ROOT)

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return 0.0
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return py + self.jvm_peak_rss_mb()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- result ---------------------------------------------------------

    def finish_layers(self) -> None:
        """Per-layer metrics every traced workload reports: Spark
        counters per operation (one emit call, micro-batch or query
        action), the tracer's own cost and the share of the
        end-to-end time the blocking path's self times account for."""
        ops, walls = self.op_totals, self.op_walls_ms
        n = max(1, len(ops))
        job_wall = [t.job_wall_ms for t in ops]
        self.layers.update({
            "session.start_s": self.session_start_s,
            "spark.jobs_per_op": sum(t.jobs for t in ops) / n,
            "spark.tasks_per_op": sum(t.tasks for t in ops) / n,
            "spark.job_wall_ms_per_op": sum(job_wall) / n,
            "spark.driver_ms_per_op": sum(w - j for w, j in zip(walls, job_wall)) / n,
            "spark.executor_run_ms_per_op": sum(t.executor_run_ms for t in ops) / n,
            "spark.executor_cpu_ms_per_op": sum(t.executor_cpu_ms for t in ops) / n,
            "spark.shuffle_bytes_per_op": sum(t.shuffle_bytes for t in ops) / n,
            "trace.overhead_ms_per_op": self.tracer.overhead_s * 1e3 / n,
            "trace.path_self_share": (
                statistics.median([s / e for s, e in self.paths if e > 0]) if self.paths else 0.0
            ),
        })
        self.put("spark.stages_per_op", sum(t.stages for t in ops) / n, "count")
        self.put("spark.gc_ms_per_op", sum(t.gc_ms for t in ops) / n, "ms")
        self.put("spark.spill_bytes_per_op", sum(t.spill_bytes for t in ops) / n, "bytes")
        self.put("trace.spans", len(self.tracer.spans), "count")
        self.put("trace.paths", len(self.paths), "count")
        self.put("trace.paths_within_e2e",
                 sum(1 for s, e in self.paths if s <= e + 1e-3), "count")

    def put(self, name: str, value: float, unit: str) -> None:
        """One of the workload's own named metrics (printed, not gated)."""
        self.detail[name] = (float(value), unit)

    def result_line(self, e2e_spec: list[dict], layer_spec: list[dict]) -> dict:
        spec = layer_spec if self.trace else e2e_spec
        source = self.layers if self.trace else self.e2e
        metrics = {}
        for m in spec:
            if m["name"] not in source:
                self.checks.fail(f"metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": float(source[m["name"]]), "unit": m["unit"]}
        return {
            "correct": self.checks.failed == 0,
            "attempted": max(1, self.checks.attempted),
            "failed": self.checks.failed,
            "metrics": metrics,
        }

    def dump_trace(self) -> str:
        os.makedirs(TRACE_DIR, exist_ok=True)
        out = os.path.join(TRACE_DIR, f"trace-{self.workload}-seed{self.seed}.json")
        with open(out, "w") as f:
            json.dump(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "seconds": self.seconds,
                    "cores": cores(),
                    "layers": self.layers,
                    "detail": {k: {"value": v, "unit": u} for k, (v, u) in self.detail.items()},
                    "spans": self.tracer.spans,
                },
                f,
            )
        return out
