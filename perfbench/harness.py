"""Run plumbing shared by the workloads: a fresh run root, the Spark
session, the calibration anchor, the closed loop, op records, latency
statistics and memory readings."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd

from perfbench.trace import Tracer

#: job groups of the harness's own Spark jobs (calibration, fixtures,
#: correctness checks); the traced run counts them apart from the layers
HARNESS_GROUPS = ("perfbench-calib", "perfbench-fixture", "perfbench-check")

#: rows of the calibration anchor: bench.py uses 200M (best of three); a
#: hundredth of that, once at each end of the loop, costs under a second
CALIB_ROWS = 2_000_000


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    kind: str            # read | write | recrawl | maintain
    name: str
    start_s: float       # since the loop started
    dur_s: float
    ok: bool
    result: Any = None
    state: dict = field(default_factory=dict)


class Run:
    """One benchmark run: owns its run root (removed on close) and its
    Spark session."""

    def __init__(self, repo: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.repo = repo
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.root = os.path.join(
            repo, ".perfbench_runs", f"{workload}-{os.getpid()}-"
            f"{time.time_ns()}")
        os.makedirs(self.root)
        self.ops: list[Op] = []
        self.context: dict[str, Any] = {}
        self.failed_checks: list[str] = []
        self.spark = None
        self.loop_t0 = 0.0
        self.cached_mb_peak = 0.0      # polled after every op when traced
        self.calib_warm = False

    # ---- paths ---------------------------------------------------------
    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.root, "eventlog")

    # ---- session -------------------------------------------------------
    def start_session(self) -> float:
        """Start Spark with every scratch location inside the run root and
        return the start-up time (import, JVM launch, first job)."""
        cpus = str(os.cpu_count() or 1)
        tmp = self.path("tmp", "")
        # python workers (pandas UDFs) import georiva_spark from the repo
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.repo, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
        # the engine default (16g) exceeds small machines
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            os.makedirs(self.event_log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        with self.tracer.span("session"):
            from georiva_spark.session import get_spark
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   extra_conf=conf)
            _warm_python_workers(self.spark)
        return time.perf_counter() - t0

    @contextmanager
    def harness_jobs(self, group: str):
        """Tag the harness's own Spark jobs so tracing keeps them apart
        from the program's layers."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def calibrate(self) -> float:
        """bench.py's pure-JVM machine anchor, one pass at a hundredth of
        its rows: a seeded range aggregate with no IO and no Python. A context
        field, not a metric: a run disturbed partway through shows as a
        start/end mismatch in its own output."""
        from pyspark.sql import functions as F

        def anchor(rows):
            (self.spark.range(0, rows, 1, 32)
             .select(((F.col("id") * 2654435761) % 1000003).alias("h"))
             .groupBy((F.col("h") % 64).alias("b"))
             .agg(F.count("h").alias("n"), F.sum("h").alias("s"))
             .agg(F.count("*"), F.sum("s"), F.bit_xor("n")).collect())
        with self.harness_jobs("perfbench-calib"):
            if not self.calib_warm:
                # compile and JIT the plan once: time warm passes
                anchor(250_000)
                self.calib_warm = True
            t0 = time.perf_counter()
            anchor(CALIB_ROWS)
            return time.perf_counter() - t0

    # ---- closed loop ---------------------------------------------------
    def do(self, kind: str, name: str, fn: Callable[[], Any],
           state: dict | None = None) -> Op:
        """Run one request and record its latency; a raised error is a
        failed op, recorded and survived."""
        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        dur = time.perf_counter() - t0
        op = Op(kind, name, t0 - self.loop_t0, dur, ok, result,
                dict(state or {}))
        self.ops.append(op)
        if self.tracer.enabled:
            self.cached_mb_peak = max(self.cached_mb_peak, self.cached_mb())
        log(f"{kind:8s} {name:24s} {dur:7.3f}s {'ok' if ok else 'FAILED'}")
        return op

    def closed_loop(self, step: Callable[[int], None], block: int) -> int:
        """One client: call ``step(i)`` for i = 0, 1, ... in whole blocks of
        ``block`` requests, and start another block only while the run's
        seconds last. Each step issues one request, the next only after
        the previous reply. Whole blocks keep the measured mix the same
        however fast the program runs. Returns the blocks run."""
        self.context["loop_started_at"] = time.time()
        self.loop_t0 = time.perf_counter()
        deadline = self.loop_t0 + self.seconds
        blocks = 0
        while blocks == 0 or time.perf_counter() < deadline:
            for j in range(block):
                step(blocks * block + j)
            blocks += 1
        self.context["blocks"] = blocks
        return blocks

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed_checks.append(what)
            log(f"CHECK FAILED: {what}")

    # ---- readings ------------------------------------------------------
    def jvm(self):
        return self.spark.sparkContext._jvm

    def jvm_gc_s(self) -> float:
        beans = (self.jvm().java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of this driver process plus the JVM."""
        pid = self.jvm().java.lang.management.ManagementFactory \
            .getRuntimeMXBean().getPid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(pid))) / 1024.0

    # ---- teardown ------------------------------------------------------
    def stop_session(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def close(self) -> None:
        try:
            self.stop_session()
        finally:
            shutil.rmtree(self.root, ignore_errors=True)
            parent = os.path.dirname(self.root)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def parquet_files(path: str) -> tuple[int, float]:
    """(count, MB) of the parquet data files under ``path``."""
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size / 2**20


def _warm_python_workers(spark) -> None:
    """Run one job and one Arrow pandas UDF so the first request is not
    charged the worker pool's start-up (bench.py warms the same way)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ident(s: pd.Series) -> pd.Series:
        return s
    spark.range(32).select(_ident("id")).count()


def _vm_hwm_kb(pid: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    return 0.0


# ---- statistics ----------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile that still has at least ten samples beyond
    it → (value, percentile). Below 21 samples that percentile would be
    under the median, so the maximum stands in (percentile 100)."""
    v = sorted(xs)
    n = len(v)
    if n < 21:
        return v[-1], 100.0
    k = n - 11
    return v[k], 100.0 * (k + 1) / n
