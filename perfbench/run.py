"""perfbench: the engine's end-to-end and per-layer benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload car_api --seed 1 --seconds 14 --trace 0

Workloads (one process, ``local[nproc]``, one client, closed loop):

* ``car_api`` — the reference service's request mix on a 10,000-row
  ``car_data`` table, reads interleaved with appends (``car_api.py``);
* ``lake``    — the six stored-index build families into wiped stores,
  then registered queries over the bundled corpus that read what was
  built (``lake.py``).

A pass is a workload's unit of repeated work: a cycle of ten requests
for ``car_api``, one run of the query list for ``lake``. ``--seconds``
sets how many whole passes are measured (see ``common.passes_for``).
``--seed`` draws the car table, the request parameters and the query
order; the lake corpus is fixed.

Every operation's result is checked; a failure is counted, never fatal.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the ``end_to_end`` list of ``BENCHMARK.json``:

* ``setup_s``   — session start and warm-up jobs, with one untimed
  request of every endpoint (``car_api``);
* ``build_s``   — building the stored data: the car table (median of
  three builds) or the six index families (one build);
* ``pass_s``    — median pass: ten requests, or the query suite;
* ``op_p50_ms``, ``op_p90_ms`` — request or query latency percentiles.

With ``--trace 1`` the metrics are the ``per_layer`` list, taken from

* the benchmark's own timing of its calls into each module
  (``*_ms``: median per call; ``*_s`` and counts: total per pass);
* the status tracker, under one job group per operation (``exec.jobs``,
  ``exec.stages``, ``exec.tasks``, ``exec.failed_tasks``; jobs that
  engine code submits from its own thread pools or stream threads carry
  no group and are not counted there);
* the query-planning tracker of each query (``catalyst.*``);
* a streaming query listener (``streaming.*``);
* the Spark event log (``exec.task_cpu_s``, shuffle and spill bytes,
  ``build.jobs``);
* an ``os.walk`` of the artifact stores (``stored.*``).

A layer a workload does not exercise reads 0. ``trace.overhead_pct`` is
the share of the measured time spent in the benchmark's tracing code.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

NOTES = [
    "catalyst.* are the planning tracker's phases for the initial plan; "
    "under adaptive execution, re-planning between stages lands in exec.*",
    "for stream_* queries the micro-batches run inside operators.build; "
    "they are attributed to streaming.* through the listener",
]


def per_layer(tracer, res: dict, session: dict, jobs: dict, stream: dict, log: dict) -> dict:
    passes = res["passes"]
    out = dict(session)
    for name, values in tracer.samples.items():
        per_pass = name.endswith("_s")
        out[name] = sum(values) / passes if per_pass else common.quantile(values, 50)
    for key, value in jobs.items():
        out[f"exec.{key}"] = value / passes
    for key, value in stream.items():
        out[f"streaming.{key}"] = value / passes
    measured = log["measured"]
    out["exec.task_cpu_s"] = measured["task_cpu_s"] / passes
    out["exec.shuffle_write_bytes"] = measured["shuffle_write_bytes"] / passes
    out["exec.spill_bytes"] = measured["spill_bytes"] / passes
    if "build" in log:
        out["build.jobs"] = log["build"]["jobs"]
        out["build.shuffle_write_bytes"] = log["build"]["shuffle_write_bytes"]
    out.update(res["layers"])
    out["trace.overhead_pct"] = 100 * tracer.overhead_s / res["measured_s"]
    return out


def main() -> int:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_process = time.perf_counter()
    common.prepare_environment()
    try:
        import __spark_entry__  # noqa: F401
        import automotive_big_data_analysis_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    common.redirect_stores()
    import lake

    oracle = lake.Oracle(lake.LAKE_QUERIES) if args.workload == "lake" else None

    trace = bool(args.trace)
    spark, start_s = common.start_session(trace)
    try:
        tracer = common.Tracer(spark, trace)
        warm_s = common.warm_up(spark, python_workers=args.workload != "car_api")
        if args.workload == "car_api":
            import car_api

            res = car_api.run(spark, tracer, args.seed, args.seconds)
        else:
            res = lake.run(spark, tracer, args.seed, args.seconds, oracle)
        res["measured_s"] = res["window"][1] - res["window"][0]
        rss_mb = common.peak_rss_mb(spark)
        jobs = tracer.job_counts() if trace else {}
        stream = tracer.stream_totals(*res["window"]) if trace else {}
    finally:
        common.stop_session(spark)

    ops = [wall for _, wall in res["ops"]]
    values = {
        "setup_s": start_s + warm_s + res["warm_s"],
        "build_s": res["build_s"],
        "pass_s": res["pass_s"],
        "op_p50_ms": common.quantile(ops, 50) * 1000,
        "op_p90_ms": common.quantile(ops, 90) * 1000,
    }
    listed = spec["end_to_end"]
    if trace:
        windows = {"measured": res["window"]}
        if res["build_window"]:
            windows["build"] = res["build_window"]
        log = common.event_log_totals(windows)
        session = {
            "session.start_s": start_s,
            "session.warmup_s": warm_s + res["warm_s"],
            "session.peak_rss_mb": rss_mb,
        }
        values = per_layer(tracer, res, session, jobs, stream, log)
        listed = spec["per_layer"]
        for note in NOTES:
            print(f"note: {note}")
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={res['passes']} "
        f"wall={time.perf_counter() - t_process:.1f}s ops(ms)="
        + json.dumps([[name, round(wall * 1000)] for name, wall in res["ops"]])
    )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in listed
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
