"""Per-layer attribution for a traced benchmark run, stdlib only.

The benchmark records a span around each of its own calls into a
``georiva_spark`` layer (the layers are named by module, see LAYERS).
Spans live in memory and are read once, after the run. Spark's JSON
event log (``spark.eventLog.compress=false``; Spark 4 defaults to zstd,
which the stdlib cannot read) supplies the jobs, their submission and
completion times, call sites and task metrics.

Attribution of one job:

1. the span open at the job's submission time names the layer;
2. where layers nest inside one call (``plans.takedown`` running an
   engine dispatch, for example) the job's ``callSite`` file path names
   the submitting module, and that module wins when it is a layer. This
   also places jobs submitted from the engine's write-pool threads, which
   carry no job group.

A job submitted while no span is open is *unattributed*; a traced run is
expected to leave none.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = (
    "session", "catalog", "sources.grid_store", "sources.ingestion",
    "sources.tables", "operators.zonal", "operators.temporal",
    "operators.timeseries", "operators.regrid", "operators.dedup",
    "operators.similarity", "plans.engine", "plans.takedown",
)
LAYER_FIELDS = ("calls", "wall_s", "driver_only_s", "jobs", "tasks",
                "executor_cpu_s", "shuffle_write_mb", "spill_mb")
EXTRA_METRICS = (
    ("plans.engine.units_completed", "count"),
    ("plans.engine.units_skipped", "count"),
    ("plans.engine.output_files", "count"),
    ("plans.engine.output_mb", "MB"),
    ("operators.dedup.index_files", "count"),
    ("operators.similarity.index_files", "count"),
    ("spark.cached_mb_peak", "MB"),
    ("jvm.gc_s", "s"),
)
FIELD_UNITS = {"calls": "count", "wall_s": "s", "driver_only_s": "s",
               "jobs": "count", "tasks": "count", "executor_cpu_s": "s",
               "shuffle_write_mb": "MB", "spill_mb": "MB"}

_MB = 1024.0 * 1024.0
# "<action> at <file>:<line>" — PySpark's call site for Python actions
_CALLSITE_FILE = re.compile(r" at (?P<file>\S+\.py):\d+")


def per_layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [(f"{layer}.{f}", FIELD_UNITS[f])
           for layer in LAYERS for f in LAYER_FIELDS]
    return out + list(EXTRA_METRICS)


@dataclass
class Span:
    layer: str
    start_ms: float
    end_ms: float


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` costs one branch and records nothing, so the timed
    (untraced) run executes the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        if not self.enabled:
            yield
            return
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(Span(layer, t0, time.time() * 1000.0))


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float | None = None
    call_site: str = ""
    group: str = ""
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``: a single-file log or the
    ``eventlog_v2_*/events_N_*`` parts of a rolling log, in order."""
    out = []
    for dirpath, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            out.append(os.path.join(dirpath, f))

    def part(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)
    return sorted(out, key=part)


def read_events(paths: list[str]) -> list[dict]:
    events = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def parse_jobs(events: list[dict]) -> list[Job]:
    """Jobs with their time span, call site and summed task metrics.

    A stage is charged to the first job that lists it (later jobs that
    reuse its shuffle output skip it and run none of its tasks)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(job_id=ev["Job ID"],
                      submit_ms=float(ev["Submission Time"]),
                      call_site=props.get("callSite.short", ""),
                      group=props.get("spark.jobGroup.id") or "",
                      stage_ids=list(ev.get("Stage IDs", [])))
            jobs[job.job_id] = job
            for s in job.stage_ids:
                stage_job.setdefault(s, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.shuffle_write_bytes += (m.get("Shuffle Write Metrics")
                                        or {}).get("Shuffle Bytes Written", 0)
            job.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def layer_of_call_site(call_site: str) -> str | None:
    """``collect at .../georiva_spark/operators/zonal.py:179`` →
    ``operators.zonal``; None when the file is not a layer module."""
    m = _CALLSITE_FILE.search(call_site)
    if not m:
        return None
    parts = m.group("file").replace("\\", "/").split("/")
    if "georiva_spark" not in parts:
        return None
    pkg = len(parts) - 1 - parts[::-1].index("georiva_spark")
    name = ".".join(parts[pkg + 1:])[:-len(".py")]
    return name if name in LAYERS else None


def _open_span(spans: list[Span], t_ms: float,
               slack_ms: float = 2.0) -> Span | None:
    """The innermost span open at ``t_ms`` (latest start wins)."""
    best = None
    for s in spans:
        if s.start_ms - slack_ms <= t_ms <= s.end_ms + slack_ms:
            if best is None or s.start_ms > best.start_ms:
                best = s
    return best


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs: list[Job], spans: list[Span],
              harness_groups: tuple[str, ...] = ()
              ) -> tuple[dict, list[Job]]:
    """→ ({layer: {field: value}}, unattributed jobs).

    Jobs in one of ``harness_groups`` are the benchmark's own (calibration,
    fixtures, checks); they are summed under ``harness``, apart from the
    layers.

    ``wall_s`` and ``driver_only_s`` belong to the layer whose span it is:
    driver-only time is span wall time minus the union of the intervals in
    which any Spark job ran inside it. Jobs, tasks, CPU, shuffle and spill
    go to the layer each job is attributed to."""
    out = {layer: dict.fromkeys(LAYER_FIELDS, 0.0)
           for layer in (*LAYERS, "harness")}
    in_span: dict[int, list[tuple[float, float]]] = {}
    unattributed = []
    for job in jobs:
        span = _open_span(spans, job.submit_ms)
        if job.group in harness_groups:
            layer = "harness"
        elif span is None:
            unattributed.append(job)
            continue
        else:
            layer = layer_of_call_site(job.call_site) or span.layer
        row = out[layer]
        row["jobs"] += 1
        row["tasks"] += job.tasks
        row["executor_cpu_s"] += job.executor_cpu_s
        row["shuffle_write_mb"] += job.shuffle_write_bytes / _MB
        row["spill_mb"] += job.spill_bytes / _MB
        if span is None:
            continue
        end = job.end_ms if job.end_ms is not None else span.end_ms
        in_span.setdefault(id(span), []).append(
            (max(job.submit_ms, span.start_ms), min(end, span.end_ms)))
    for span in spans:
        row = out[span.layer]
        wall = span.end_ms - span.start_ms
        busy = _union_ms([iv for iv in in_span.get(id(span), [])
                          if iv[1] > iv[0]])
        row["calls"] += 1
        row["wall_s"] += wall / 1000.0
        row["driver_only_s"] += max(0.0, wall - busy) / 1000.0
    return out, unattributed


def window_shares(windows: list[tuple[float, float]], spans: list[Span],
                  jobs: list[Job]) -> dict[str, float]:
    """How the time inside ``windows`` (epoch-ms intervals, one per
    request) divides: the share inside each layer's spans, and the share
    during which any Spark job ran (``in_spark_jobs``); the rest of a
    request is driver-side work outside any job."""
    total = sum(e - s for s, e in windows)
    if total <= 0:
        return {}
    out: dict[str, float] = {}
    busy = 0.0
    for s, e in windows:
        for sp in spans:
            ov = min(e, sp.end_ms) - max(s, sp.start_ms)
            if ov > 0:
                out[sp.layer] = out.get(sp.layer, 0.0) + ov
        busy += _union_ms([(max(s, j.submit_ms), min(e, j.end_ms))
                           for j in jobs if j.end_ms is not None
                           and j.end_ms > s and j.submit_ms < e])
    shares = {k: round(v / total, 3) for k, v in sorted(out.items())}
    shares["in_spark_jobs"] = round(busy / total, 3)
    return shares
