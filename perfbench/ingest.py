"""``ingest_stream``: the write path.

Setup backfills the ``orders`` mirror and registers one dashboard
monitor. A separate generator process (envgen.py) first lands a small
warm-up backlog, which the live 1 s stream's first, cold batch applies.
Then the generator lands 500 events/s on a fixed schedule for the
measured window (an open loop). Then three outages: each time the
stream stops, a burst lands, and the restarted stream's catch-up is
timed. Each live file's change-to-visible time runs from its due time
(stamped as ``ts_ms``) to the commit of the mirror manifest that holds
it. Files are mapped to batches through the checkpoint's ``sources/0``
log, and batches to commit times through the manifests, never through
``numInputRows``.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from datetime import datetime

import pandas as pd

from perfbench import common, datagen

ROWS = int(30_000 * common.SCALE)
# Offered load. At the reference peak of 1,000 events/s the engine runs
# at the edge of saturation on 4 shared cores: a batch's time grows with
# its size, so change-to-visible swung 4.9-9.1 s between runs. At half
# the peak a batch finishes well inside the next one's arrivals.
RATE = 500
FILES_PER_S = 20
WARMUP_EVENTS = 500
# Outages after the live window, each leaving a backlog of BURST_EVENTS
# changes; the catch-up figures are medians over them.
OUTAGES = 3
BURST_EVENTS = 1500
MONITOR = "status_mix"
MONITOR_BODY = {"size": 0, "aggs": {"by_status": {"terms": {
    "field": "o_orderstatus"}}}}
MONITOR_CONDITION = "doc_count > 0"
DRAIN_TIMEOUT_S = 90
# setup_s is the median of this many set-ups, each into a fresh
# workdir; the stream runs on the last
SETUP_REPS = 2


def _file_batches(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's metadata log
    (``<batch>`` and compacted ``<batch>.compact`` entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _commits(mirror: str, writer: str) -> dict[int, dict]:
    """stream batch id -> its manifest's commit time (mtime), version,
    newest commit dir, number of commit dirs, and buckets in the newest
    commit dir (the buckets the batch touched)."""
    out: dict[int, dict] = {}
    for path in glob.glob(os.path.join(mirror, "_commits", "v*.json")):
        with open(path) as fh:
            m = json.load(fh)
        if m.get("writer_id") == writer and m.get("batch_id", -1) >= 0:
            commit = sorted(set(m["buckets"].values()))[-1]
            out[m["batch_id"]] = {"time": os.stat(path).st_mtime,
                                  "version": m["version"],
                                  "commit": commit,
                                  "n_commits": len(set(m["buckets"].values())),
                                  "buckets": sum(1 for c in m["buckets"].values()
                                                 if c == commit)}
    return out


def _wait_covered(ckpt, mirror, writer, names, timeout_s, gen=None):
    """Block until every file in ``names`` is in a committed batch."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        fb = _file_batches(ckpt)
        if all(n in fb for n in names):
            need = {fb[n] for n in names}
            commits = _commits(mirror, writer)
            if need <= set(commits):
                return fb, commits
        if gen is not None and gen.poll() not in (None, 0):
            raise RuntimeError("envelope generator died")
        time.sleep(0.05)
    raise TimeoutError(f"{len(names)} files not visible after {timeout_s}s")


def _progress(query, batches: set) -> list:
    """The query's recent progress of batches that read data, once it
    holds every batch in ``batches``: a batch reports after its commit,
    and an idle trigger reports too, without input rows."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        progress = list(query.recentProgress)
        progress = [p for p in progress if p.numInputRows > 0]
        if batches <= {p.batchId for p in progress}:
            return progress
        if time.time() > deadline:
            raise TimeoutError(f"no progress for batches {sorted(batches)}")
        time.sleep(0.05)


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(path, "_bucket=*", "*.parquet"))]
    return sum(os.path.getsize(p) for p in files), len(files)


def run(ctx) -> dict:
    from pyspark.sql import types as T

    from postgres_opensearch_cdc_spark.engine import CdcEngine

    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    orders_path = os.path.join(work, "orders.parquet")
    datagen.write_orders(orders_path, ctx.seed, ROWS)
    schema = spark.read.parquet(orders_path).schema
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in schema])

    def setup(rep):
        wd = os.path.join(work, f"engine{rep}")
        t0 = time.perf_counter()
        eng = CdcEngine(spark, wd)
        eng.register_table("orders", schema)
        tb = time.perf_counter()
        eng.backfill("orders", spark.read.parquet(orders_path))
        backfill_s = time.perf_counter() - tb
        eng.put_monitor(MONITOR, "orders", MONITOR_BODY, MONITOR_CONDITION)
        return eng, wd, time.perf_counter() - t0, backfill_s

    setups = [setup(rep) for rep in range(SETUP_REPS)]
    eng, wd = setups[-1][0], setups[-1][1]
    setup_s = common.median([s[2] for s in setups])
    backfill_s = common.median([s[3] for s in setups])

    changes = os.path.join(work, "changes")
    genlog = os.path.join(work, "genlog")
    os.makedirs(changes)
    ckpt = os.path.join(wd, "ckpt_orders")
    mirror = os.path.join(wd, "mirror_orders")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "envgen.py"),
         "--orders", orders_path, "--out", changes, "--log", genlog,
         "--seed", str(ctx.seed), "--rate", str(RATE),
         "--files-per-s", str(FILES_PER_S),
         "--warmup-events", str(WARMUP_EVENTS),
         "--burst-events", str(BURST_EVENTS)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def ask(command, reply):
        if command:
            gen.stdin.write(command + "\n")
            gen.stdin.flush()
        if gen.stdout.readline().strip() != reply:
            raise RuntimeError(f"envelope generator failed before {reply!r}")

    def landed(phase):
        return sorted(n for n in os.listdir(changes)
                      if n.startswith(phase + "-"))

    query = None
    try:
        ask(None, "warm")
        query = eng.start_stream("orders", changes, available_now=False)
        _wait_covered(ckpt, mirror, ckpt, landed("warm"), DRAIN_TIMEOUT_S,
                      gen)

        def engine_cpu():
            # the generator is the load, not the system under test
            return common.cpu_seconds(exclude={gen.pid})

        cpu0, t_live = engine_cpu(), time.time()
        ask(f"go {ctx.seconds}", "done")
        fb, commits = _wait_covered(ckpt, mirror, ckpt, landed("live"),
                                    DRAIN_TIMEOUT_S, gen)
        cpu_s = engine_cpu() - cpu0
        wall_s = time.time() - t_live
        progress = _progress(query, {fb[n] for n in landed("live")})

        catchup_s, burst_cpu_s = [], []
        for k in range(OUTAGES):
            # an outage: the stream stops, the backlog lands, and the
            # stream restarts from its checkpoint, so its first batch
            # reads the whole backlog
            query.stop()
            query = None
            ask("burst", "burst")
            names = landed(f"burst{k}")
            cpu0 = engine_cpu()
            query = eng.start_stream("orders", changes, available_now=False)
            fb, commits = _wait_covered(ckpt, mirror, ckpt, names,
                                        DRAIN_TIMEOUT_S, gen)
            burst_cpu_s.append(engine_cpu() - cpu0)
            burst_batches = {fb[n] for n in names}
            burst_progress = _progress(query, burst_batches)
            progress += burst_progress
            # from the start of the first batch that reads the backlog
            # (the restarted stream starts on it at once) to its commit
            catchup_s.append(
                max(commits[b]["time"] for b in burst_batches)
                - min(_epoch_s(p.timestamp) for p in burst_progress
                      if p.batchId in burst_batches))
        ask("end", "end")
        gen.wait(timeout=60)
        with open(os.path.join(genlog, "log.json")) as fh:
            log = json.load(fh)
        live = [f for f in log["files"] if f["phase"] == "live"]
    finally:
        if query is not None:
            query.stop()
            query.awaitTermination(60)
        if gen.poll() is None:
            gen.kill()
        gen.wait()

    # -- correctness ---------------------------------------------------------
    failed = 0
    oracle = pd.read_parquet(os.path.join(genlog, "oracle.parquet"))
    got = eng.view("orders").toPandas()
    cols = list(oracle.columns)
    got = got[cols].sort_values("id").reset_index(drop=True)
    oracle = oracle.sort_values("id").reset_index(drop=True)
    got["o_orderdate"] = got["o_orderdate"].astype("datetime64[us]")
    oracle["o_orderdate"] = oracle["o_orderdate"].astype("datetime64[us]")
    mirror_ok = len(got) == len(oracle) and got.equals(oracle)
    n_files = len(log["files"])
    if not mirror_ok:
        failed += n_files
        print(f"ingest: mirror != oracle ({len(got)} vs {len(oracle)} rows)",
              file=sys.stderr)
    batches = sorted(int(os.path.basename(p)) for p in
                     glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))
    alert_commits = glob.glob(os.path.join(
        wd, f"alerts_{MONITOR}", "_commits", "w*-b*.json"))
    alert_batches = sorted(int(p.rsplit("-b", 1)[1][:-5]) for p in alert_commits)
    if alert_batches != batches:
        failed += 1
        print(f"ingest: monitor log has {len(alert_batches)} commits for "
              f"{len(batches)} batches", file=sys.stderr)

    # -- end to end ----------------------------------------------------------
    ctv = [commits[fb[f["name"]]]["time"] - f["due_ms"] / 1000.0 for f in live]
    live_events = sum(f["events"] for f in live)
    last_commit = max(commits[fb[f["name"]]]["time"] for f in live)
    applied = live_events / (last_commit - log["live_start_ms"] / 1000.0)
    p_tail, ctv_tail = common.tail(ctv, 95)
    burst_events = sum(f["events"] for f in log["files"]
                       if f["phase"] == "burst0")
    named = {
        "backfill_rows_per_s": (ROWS / backfill_s, "1/s"),
        "change_to_visible_p50_s": (common.median(ctv), "s"),
        f"change_to_visible_p{p_tail:g}_s": (ctv_tail, "s"),
        "applied_events_per_s": (applied, "1/s"),
        "catchup_events_per_s": (burst_events / common.median(catchup_s),
                                 "1/s"),
    }
    e2e = {
        "setup_s": ctx.session_s + setup_s,
        # the restarted stream reads each backlog in one commit
        "commit_cpu_s": common.median(burst_cpu_s),
        # per change, not per commit: a slower host makes fewer, larger
        # commits, so the commits' mostly fixed cost and their count
        # move against each other
        "cpu_ms_per_op": 1e3 * cpu_s / live_events,
    }

    # -- per layer -----------------------------------------------------------
    live_batches = sorted({fb[f["name"]] for f in live})
    per_batch_events: dict[int, int] = {}
    for f in log["files"]:
        per_batch_events[fb[f["name"]]] = (per_batch_events.get(fb[f["name"]], 0)
                                           + f["events"])
    prog = [p for p in progress if p.batchId in set(live_batches)]

    def dur(key):
        return common.median([p.durationMs.get(key, 0) for p in prog])

    layer = {
        "stream.trigger_ms_p50": dur("triggerExecution"),
        "stream.latest_offset_ms_p50": dur("latestOffset"),
        "stream.get_batch_ms_p50": dur("getBatch"),
        "stream.query_planning_ms_p50": dur("queryPlanning"),
        "stream.add_batch_ms_p50": dur("addBatch"),
        "stream.wal_commit_ms_p50": dur("walCommit"),
        "stream.commit_offsets_ms_p50": dur("commitOffsets"),
        "stream.batches": len(live_batches),
        "stream.events_per_batch_p50": common.median(
            [per_batch_events[b] for b in live_batches]),
        "gen.lateness_ms_p95": common.percentile(
            [f["landed_ms"] - f["due_ms"] for f in live], 95),
        "proc.cpu_s": cpu_s,
        "backfill.rows_per_s": ROWS / backfill_s,
    }
    data_dir = os.path.join(mirror, "data")
    written = [_dir_bytes(os.path.join(data_dir, commits[b]["commit"]))
               for b in live_batches]
    layer.update({
        "sink.bytes_written_per_event": sum(w[0] for w in written) / max(
            sum(per_batch_events[b] for b in live_batches), 1),
        "sink.files_written_per_commit": common.median([w[1] for w in written]),
        "sink.buckets_touched_per_commit": common.median(
            [commits[b]["buckets"] for b in live_batches]),
        "sink.commits_per_manifest": common.median(
            [commits[b]["n_commits"] for b in live_batches]),
    })
    if tracer is not None:
        tracer.harvest()
        applies = {s["attrs"].get("batch_id"): s
                   for s in tracer.named("sink.apply")
                   if s["attrs"].get("writer")}
        mine = [applies[b] for b in live_batches if b in applies]
        n = max(len(mine), 1)
        layer.update({
            "sink.apply_ms_p50": common.median(
                [1000 * (s["end"] - s["start"]) for s in mine]),
            "sink.jobs_per_commit": sum(s["tree"]["jobs"] for s in mine) / n,
            "sink.stages_per_commit": sum(s["tree"]["stages"] for s in mine) / n,
            "sink.tasks_per_commit": sum(s["tree"]["tasks"] for s in mine) / n,
            "sink.exec_run_ms_per_commit":
                sum(s["tree"]["run_ms"] for s in mine) / n,
            "sink.shuffle_bytes_per_commit":
                sum(s["tree"]["shuffle"] for s in mine) / n,
        })
        by_batch = {p.batchId: p.durationMs.get("addBatch", 0) for p in prog}
        layer["monitor.eval_ms_p50"] = common.median(
            [by_batch[b] - 1000 * (applies[b]["end"] - applies[b]["start"])
             for b in live_batches if b in applies and b in by_batch])
    return {
        "attempted": n_files + 1, "failed": failed,
        "e2e": e2e, "named": named, "layer": layer,
        "window_s": wall_s,
        "note": f"{len(live)} live files in {len(live_batches)} batches; "
                f"tail percentile p{p_tail:g}; catch-up CPU s per outage "
                f"{[round(c, 2) for c in burst_cpu_s]}",
    }
