"""Per-evaluation cost of a monitor, by how its outcomes run: a monitor
that never fires, one that always fires, and one that alternates.

A monitor evaluation picks its write path from the monitor's last
outcome (``CdcEngine._evaluate_monitor``): after a firing evaluation it
writes the alert frame in one pass and counts the rows on that write;
otherwise it counts first and writes only on a hit. The three monitors
cover the predicted firing case, the predicted non-firing case, and
the worst case for the prediction (every evaluation mispredicted).

All three run the same terms-aggregation body over one 5,000-row
mirror, evaluated round-robin with fresh batch ids; 5 warm-up rounds,
then 20 measured ones. Run alone, from the repo root (compare two
trees by running each from its own root, interleaved):

    python3 tools/monitor_eval_bench.py SEED [never,always,flip]

Prints one JSON line: per monitor the median CPU ms (the process tree,
JIT compiler threads excluded — perfbench's ``cpu_seconds``), median
wall ms and jobs per evaluation, the mean CPU ms (for ``flip``, whose
evaluations alternate between two paths) and the data dirs a
never-firing monitor left in its alert log.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from pyspark.sql import types as T  # noqa: E402

from perfbench import common  # noqa: E402
from postgres_opensearch_cdc_spark.engine import CdcEngine  # noqa: E402

ROWS = 5000
WARMUP, ROUNDS = 5, 25
BODY = {"size": 0, "aggs": {"by_status": {"terms": {"field": "status"}}}}
FIRES, NEVER = "doc_count > 0", "doc_count < 0"


def main() -> None:
    seed = int(sys.argv[1])
    names = (sys.argv[2] if len(sys.argv) > 2 else "never,always,flip").split(",")
    work = tempfile.mkdtemp(prefix="monitor_eval_")
    spark, _, _ = common.start_spark(work, traced=False)
    sc = spark.sparkContext
    rng = random.Random(seed)
    schema = T.StructType.fromDDL("id long, status string, amount double")
    engine = CdcEngine(spark=spark, workdir=os.path.join(work, "eng"))
    engine.register_table("o", schema)
    engine.backfill("o", spark.createDataFrame(
        [(i, rng.choice("FOP"), rng.random() * 100) for i in range(ROWS)],
        schema,
    ))
    for name in names:
        engine.put_monitor(name, "o", BODY, NEVER if name == "never" else FIRES)
    flips = 0
    res: dict[str, list] = {name: [] for name in names}
    bid = 0
    for rnd in range(ROUNDS):
        for k in range(len(names)):
            name = names[(rnd + k) % len(names)]
            if name == "flip":  # fires on every other evaluation
                flips += 1
                engine.monitors[name]["condition"] = FIRES if flips % 2 else NEVER
            group = f"{name}-{bid}"
            sc.setJobGroup(group, group)
            c0, t0 = common.cpu_seconds(), time.perf_counter()
            engine._evaluate_monitor(name, bid)  # this monitor only
            wall = time.perf_counter() - t0
            cpu = common.cpu_seconds() - c0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            bid += 1
            if rnd >= WARMUP:
                res[name].append((cpu * 1000, wall * 1000, jobs))
    out: dict = {"seed": seed}
    for name, rs in res.items():
        out[f"{name}_cpu_ms"] = round(statistics.median(r[0] for r in rs), 1)
        out[f"{name}_wall_ms"] = round(statistics.median(r[1] for r in rs), 1)
        out[f"{name}_jobs"] = statistics.median(r[2] for r in rs)
        out[f"{name}_cpu_ms_mean"] = round(statistics.mean(r[0] for r in rs), 1)
    if "never" in names:
        data = os.path.join(work, "eng", "alerts_never", "data")
        out["never_dirs_left"] = len(os.listdir(data)) if os.path.isdir(data) else 0
    common.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
