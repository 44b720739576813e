"""End-to-end benchmark of the CDC engine.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``ingest_stream``  live 500 events/s stream into the default mirror
* ``dashboard_rw``   one closed-loop client: dashboard reads, ``queries()``
  analytics entries and ``_bulk`` writes

It builds its inputs from ``--seed``, measures for ``--seconds``, checks
every output, prints one line per metric and, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is traced and the metrics are the per-layer ones. All scratch
files live under ``.perfbench_work/`` in the current directory (the
root of a checkout).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = {
    "ingest_stream": "perfbench.ingest",
    "dashboard_rw": "perfbench.dashboard",
}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "commit_cpu_s": "s",
    "cpu_ms_per_op": "ms",
}

READ_KINDS = ("term", "range_sort", "bool", "terms_agg", "date_histogram",
              "query_string", "sql_group", "count", "mget", "knn",
              "analytics")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "backfill.rows_per_s": "1/s",
    "stream.trigger_ms_p50": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.get_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.batches": "count",
    "stream.events_per_batch_p50": "count",
    "sink.apply_ms_p50": "ms",
    "sink.jobs_per_commit": "count",
    "sink.stages_per_commit": "count",
    "sink.tasks_per_commit": "count",
    "sink.exec_run_ms_per_commit": "ms",
    "sink.shuffle_bytes_per_commit": "B",
    "sink.bytes_written_per_event": "B",
    "sink.files_written_per_commit": "count",
    "sink.buckets_touched_per_commit": "count",
    "sink.commits_per_manifest": "count",
    "monitor.eval_ms_p50": "ms",
    "view.build_ms_p50": "ms",
    "search.build_ms_p50": "ms",
    "plan.analysis_ms_p50": "ms",
    "plan.optimization_ms_p50": "ms",
    "plan.planning_ms_p50": "ms",
    "exec.jobs_per_read": "count",
    "exec.stages_per_read": "count",
    "exec.tasks_per_read": "count",
    "exec.run_ms_per_read": "ms",
    "exec.input_bytes_per_read": "B",
    "exec.shuffle_bytes_per_read": "B",
    **{f"read.{k}.latency_p50_s": "s" for k in READ_KINDS},
    "knn.search_ms_p50": "ms",
    "knn.recall_at_10": "count",
    "knn.index_build_s": "s",
    "surface.build_s": "s",
    "surface.collect_s": "s",
    "surface.plan_ms": "ms",
    "surface.jobs": "count",
    "surface.stages": "count",
    "surface.tasks": "count",
    "surface.exec_run_s": "s",
    "surface.shuffle_bytes": "B",
    "surface.input_bytes": "B",
    "surface.driver_only_s": "s",
    "proc.cpu_s": "s",
    "proc.loadavg_1m": "count",
    "gen.lateness_ms_p95": "ms",
    "trace.overhead_pct": "%",
}


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    session_s: float


def install_tracer(tracer) -> None:
    """Spans around every public call the workloads make into a layer."""
    from postgres_opensearch_cdc_spark.engine import CdcEngine
    from postgres_opensearch_cdc_spark.streaming.apply import (
        VersionedMirrorSink,
    )

    def sink_attrs(args, kwargs):
        return {"batch_id": args[2] if len(args) > 2 else kwargs.get("batch_id"),
                "writer": kwargs.get("writer_id")}

    tracer.wrap(VersionedMirrorSink, "apply_batch", "sink.apply", sink_attrs)
    for meth in ("view", "search", "bulk", "query_string", "sql", "count",
                 "mget"):
        tracer.wrap(CdcEngine, meth, f"engine.{meth}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Python workers the JVM starts import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # naive datetimes cross the Python/JVM boundary in local time
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        importlib.import_module("postgres_opensearch_cdc_spark.engine")
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import common

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    traced = bool(args.trace)
    module = importlib.import_module(WORKLOADS[args.workload])

    spark, start_s, warm_s = common.start_spark(work, traced)
    tracer = None
    try:
        if traced:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            install_tracer(tracer)
        ctx = Context(spark, work, args.seed, args.seconds, tracer,
                      session_s=start_s + warm_s)
        res = module.run(ctx)
        res["e2e"]["peak_rss_mb"] = common.peak_rss_mb()
        layer = res["layer"]
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warm_s
        layer["proc.loadavg_1m"] = os.getloadavg()[0]
        if tracer is not None:
            tracer.unwrap()
            layer["trace.overhead_pct"] = (
                100.0 * tracer.overhead_s / res["window_s"])
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-s{args.seed}.json"))
    finally:
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in res["named"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} error_rate = "
          f"{res['failed'] / res['attempted']:.6g} "
          f"({res['failed']} of {res['attempted']})")
    if res.get("note"):
        print(f"{args.workload} {res['note']}")
    if traced:
        spec = PER_LAYER
        values = {k: layer.get(k, 0.0) for k in spec}
    else:
        spec = END_TO_END
        values = res["e2e"]
    for name, unit in spec.items():
        print(f"{args.workload} {name} = {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in spec.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
