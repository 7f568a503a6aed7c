"""Event-log attribution on a recorded tiny log.

``data/tiny_eventlog.jsonl`` is a Spark 4.1 event log, cut down to the
fields the parser reads, of a session that ran:

- span ``session``: start-up and the worker warm-up (jobs 0-1);
- span ``catalog``: ``catalog.collection_detail`` (jobs 2-3, call site in
  georiva_spark/catalog.py);
- span ``operators.zonal``: a job collected from the benchmark's own file
  (jobs 4-5);
- span ``plans.takedown``: ``catalog.collection_detail`` again (jobs 6-7) —
  a layer nested inside another layer's call;
- a ``perfbench-check`` job group outside any span (jobs 8-9);
- a count with no span open (jobs 10-11).

``data/tiny_spans.json`` holds the spans recorded with it.
"""

import json
import os

import pytest

from perfbench import trace

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def recorded():
    events = trace.read_events([os.path.join(DATA, "tiny_eventlog.jsonl")])
    with open(os.path.join(DATA, "tiny_spans.json")) as f:
        spans = [trace.Span(**s) for s in json.load(f)]
    return trace.parse_jobs(events), spans


def test_parse_jobs(recorded):
    jobs, _ = recorded
    assert [j.job_id for j in jobs] == list(range(12))
    assert all(j.end_ms is not None and j.end_ms >= j.submit_ms
               for j in jobs)
    assert sum(j.tasks for j in jobs) > len(jobs) / 2
    assert jobs[2].call_site.endswith("georiva_spark/catalog.py:81")
    assert {j.group for j in jobs[8:10]} == {"perfbench-check"}


def test_attribution(recorded):
    jobs, spans = recorded
    out, unattributed = trace.attribute(jobs, spans, ("perfbench-check",))
    assert [j.job_id for j in unattributed] == [10, 11]
    assert out["session"]["jobs"] == 2
    # the nested call's jobs go to the module named by their call site
    assert out["catalog"]["jobs"] == 4
    assert out["plans.takedown"]["jobs"] == 0
    assert out["plans.takedown"]["calls"] == 1
    # a call site outside georiva_spark keeps the span's layer
    assert out["operators.zonal"]["jobs"] == 2
    assert out["harness"]["jobs"] == 2
    for layer in ("session", "catalog", "operators.zonal", "plans.takedown"):
        row = out[layer]
        assert row["calls"] == 1
        assert 0 <= row["driver_only_s"] <= row["wall_s"]
    assert out["catalog"]["executor_cpu_s"] > 0


def test_driver_only_is_wall_minus_job_union():
    spans = [trace.Span("catalog", 0.0, 1000.0)]
    jobs = [trace.Job(0, 100.0, 300.0), trace.Job(1, 200.0, 400.0),
            trace.Job(2, 900.0, 1200.0)]
    out, unattributed = trace.attribute(jobs, spans)
    assert not unattributed
    # union inside the span: [100, 400] + [900, 1000] = 400 ms
    assert out["catalog"]["driver_only_s"] == pytest.approx(0.6)
    assert out["catalog"]["wall_s"] == pytest.approx(1.0)


def test_window_shares_clip_spans_and_jobs_to_the_requests():
    windows = [(0.0, 1000.0), (2000.0, 3000.0)]
    spans = [trace.Span("catalog", 0.0, 200.0),
             trace.Span("operators.zonal", 200.0, 1000.0),
             trace.Span("plans.engine", 1500.0, 2500.0)]
    jobs = [trace.Job(0, 300.0, 700.0), trace.Job(1, 500.0, 900.0),
            trace.Job(2, 2900.0, 3400.0), trace.Job(3, 1200.0, 1300.0)]
    out = trace.window_shares(windows, spans, jobs)
    # 2000 ms of requests: zonal 800, catalog 200, engine 500 inside them
    assert out == {"catalog": 0.1, "operators.zonal": 0.4,
                   "plans.engine": 0.25, "in_spark_jobs": 0.35}


@pytest.mark.parametrize("site, layer", [
    ("collect at /srv/x/georiva_spark/operators/zonal.py:179",
     "operators.zonal"),
    ("count at /a/georiva_spark/plans/engine.py:12", "plans.engine"),
    ("collect at /a/georiva_spark/catalog.py:81", "catalog"),
    ("collect at /a/georiva_spark/functions/frames.py:40", None),
    ("collect at /a/perfbench/grid_workload.py:10", None),
    ("parquet at NativeMethodAccessorImpl.java:0", None),
    ("", None),
])
def test_layer_of_call_site(site, layer):
    assert trace.layer_of_call_site(site) == layer


def test_event_log_files_orders_rolling_parts(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app-1").write_text("")
    (d / "appstatus_app-1").write_text("")
    (d / ".events_1_app-1.crc").write_text("")
    names = [os.path.basename(p)
             for p in trace.event_log_files(str(tmp_path))]
    assert names == ["appstatus_app-1", "events_1_app-1", "events_2_app-1",
                     "events_10_app-1"]


def test_per_layer_metric_names_unique():
    names = [n for n, _ in trace.per_layer_metric_names()]
    assert len(names) == len(set(names)) == \
        len(trace.LAYERS) * len(trace.LAYER_FIELDS) + \
        len(trace.EXTRA_METRICS)
