"""georiva_spark benchmark: one command, named seeded closed-loop workloads.

    python3 perfbench/run.py --workload grid_analysis_refresh --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the run's context (calibration anchor at start and
end, per-op timestamps, sample counts, tails, workload figures). See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("grid_analysis_refresh", "corpus_takedown"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _metric_kinds(wl):
    """(metric prefix, op kinds it averages) for the workload."""
    return (("read", ("read",)), ("write", wl.WRITE_KINDS))


def end_to_end(run, wl, session_s: float) -> dict:
    """Raw seconds: set-up, and the mean read and write latency over the
    loop's whole blocks. A block is a fixed mix of requests of unequal
    cost, so the mean weighs each request by what it costs an analyst or
    a publisher; a median would sit on whichever cheap request ranks in
    the middle. Medians and tails go to the context with their sample
    count."""
    from perfbench.harness import median, tail
    out = {"setup_s": session_s + median(run.context["setup_reps_s"])}
    for kind, kinds in _metric_kinds(wl):
        xs = [o.dur_s for o in run.ops if o.kind in kinds and o.ok]
        if not xs:
            continue
        t, pct = tail(xs)
        out[f"{kind}_mean_s"] = sum(xs) / len(xs)
        run.context[f"{kind}_samples"] = len(xs)
        run.context[f"{kind}_p50_s"] = median(xs)
        run.context[f"{kind}_tail_s"] = t
        run.context[f"{kind}_tail_percentile"] = round(pct, 1)
    return {k: (v, "s") for k, v in out.items()}


def per_layer(run, wl, gc_s: float) -> dict:
    from perfbench import trace
    from perfbench.harness import HARNESS_GROUPS
    jobs = trace.parse_jobs(trace.read_events(
        trace.event_log_files(run.event_log_dir)))
    attributed, unattributed = trace.attribute(jobs, run.tracer.spans,
                                               HARNESS_GROUPS)
    run.context["unattributed_jobs"] = len(unattributed)
    # where the measured requests spend their time, by metric
    t0 = run.context["loop_started_at"] * 1000.0
    for kind, kinds in _metric_kinds(wl):
        windows = [(t0 + o.start_s * 1000.0,
                    t0 + (o.start_s + o.dur_s) * 1000.0)
                   for o in run.ops if o.kind in kinds]
        run.context[f"{kind}_time_shares"] = trace.window_shares(
            windows, run.tracer.spans, jobs)
    run.context["harness_jobs"] = attributed.pop("harness")["jobs"]
    vals = {f"{layer}.{f}": v for layer, row in attributed.items()
            for f, v in row.items()}
    files, mb = wl.engine_outputs()
    dedup_files, sim_files = wl.index_files()
    vals.update({
        "plans.engine.units_completed": wl.units["completed"],
        "plans.engine.units_skipped": wl.units["skipped"],
        "plans.engine.output_files": files,
        "plans.engine.output_mb": mb,
        "operators.dedup.index_files": dedup_files,
        "operators.similarity.index_files": sim_files,
        "spark.cached_mb_peak": run.cached_mb_peak,
        "jvm.gc_s": gc_s,
    })
    return {name: (vals[name], unit)
            for name, unit in trace.per_layer_metric_names()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "georiva_spark")):
        print(f"perfbench: no georiva_spark package under {REPO}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from perfbench.corpus_workload import CorpusWorkload
    from perfbench.grid_workload import GridWorkload
    from perfbench.harness import Run, log

    workload = {"grid_analysis_refresh": GridWorkload,
                "corpus_takedown": CorpusWorkload}[args.workload]
    run = Run(REPO, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        session_s = run.start_session()
        log(f"session: {session_s:.3f}s")
        run.context["session_s"] = session_s
        gc0 = run.jvm_gc_s()
        wl = workload(run)
        reps = []
        for rep in range(wl.SETUPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t0)
            log(f"setup {rep}: {reps[-1]:.3f}s")
        run.context["setup_reps_s"] = reps
        run.context["calib_s_start"] = run.calibrate()
        t0 = time.perf_counter()
        run.closed_loop(wl.step, len(wl.BLOCK))
        run.context["loop_s"] = time.perf_counter() - t0
        run.context["calib_s_end"] = run.calibrate()
        gc_s = run.jvm_gc_s() - gc0
        run.context["peak_rss_mb"] = run.peak_rss_mb()
        t0 = time.perf_counter()
        with run.harness_jobs("perfbench-check"):
            bad = [o for o in run.ops if not wl.check_op(o)]
            for o in bad:
                run.check(False, f"{o.kind} {o.name} at {o.start_s:.3f}s")
            wl.verify()
        run.context["check_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        run.stop_session()
        run.context["stop_s"] = time.perf_counter() - t0
        e2e = end_to_end(run, wl, session_s)
        run.context.update(wl.context())
        run.context["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        run.context["ops"] = [(o.kind, o.name, round(o.start_s, 3),
                               round(o.dur_s, 4), o.ok) for o in run.ops]
        metrics = per_layer(run, wl, gc_s) if args.trace else e2e
    finally:
        run.close()
    failed = len(bad)
    correct = not run.failed_checks
    context = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "failed_op_ratio": failed / max(1, len(run.ops)),
               "failed_checks": run.failed_checks, **run.context}
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": len(run.ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
