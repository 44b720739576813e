"""Open-loop Debezium envelope generator, run as its own process.

It lands JSON-lines envelope files into a changelog directory on a
fixed schedule that never waits for the engine. Each file is written
under a ``.``-prefixed temp name and then renamed, because the file
stream source skips ``.`` and ``_`` names, so a half-written file is
never read.

Protocol on stdin/stdout (one line each):

1. On start it lands the *warm-up*: ``--warmup-events`` changes written at
   once, which the stream's first, cold batch applies. Then it prints
   ``warm``.
2. On ``go <seconds>`` it runs the *live* schedule for that many
   seconds: file ``i`` is due at ``t0 + i / files_per_s`` and carries
   ``rate / files_per_s`` changes, each stamped ``ts_ms`` = the file's
   due time. Then it prints ``done``.
3. On each ``burst`` it lands a *burst*: ``--burst-events`` changes
   written at once, the backlog an outage leaves, in files of phase
   ``burst<k>`` for the k-th burst. Then it prints ``burst``.
4. On ``end`` it writes ``log.json`` (per file: name, phase, due and
   landed time, event count) and ``oracle.parquet`` (the last-write-wins
   table after every change) into ``--log``, prints ``end`` and exits.

The op mix is ~10% creates of new keys, ~80% updates with Zipf-skewed
keys and ~10% deletes of live keys. Usage::

    python3 perfbench/envgen.py --orders orders.parquet --out changes/ \
        --log genlog/ --seed 1 --rate 500 --files-per-s 20 \
        --warmup-events 500 --burst-events 2000
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

# The value domains of datagen.order_rows, repeated so this process
# starts without numpy and pandas; a change image has one distribution.
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
COLUMNS = ("id", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority")
DAY0_S = 694_224_000  # 1992-01-01T00:00:00Z
N_DAYS = 2405


class ChangeModel:
    """The keyed table the generator mutates, and the last-write-wins
    oracle of what the mirror must hold once every change is applied.

    ``rows`` maps id -> row dict (``o_orderdate`` as epoch seconds).
    """

    def __init__(self, rows: dict, seed: int, n_customers: int,
                 zipf_a: float = 1.2):
        self.rows = rows
        self.rng = random.Random(seed)
        self.n_customers = n_customers
        self.zipf_a = zipf_a
        self.live = sorted(rows)
        self.rng.shuffle(self.live)  # hot keys: a seeded permutation
        self.pos = {k: i for i, k in enumerate(self.live)}
        self.next_id = (max(rows) + 1) if rows else 0
        self.offset = 0
        self.ops = {"c": 0, "u": 0, "d": 0}

    def _image(self, key: int) -> dict:
        r = self.rng
        return {
            "id": key,
            "o_custkey": r.randrange(self.n_customers),
            "o_orderstatus": r.choices(STATUSES, (49, 49, 2))[0],
            "o_totalprice": round(r.uniform(850.0, 500_000.0), 2),
            "o_orderdate": DAY0_S + 86_400 * r.randrange(N_DAYS),
            "o_orderpriority": PRIORITIES[r.randrange(5)],
        }

    def _zipf_index(self) -> int:
        # inverse-CDF draw from a truncated power law over live ranks
        n = len(self.live)
        a = self.zipf_a
        u = self.rng.random()
        x = ((n ** (1 - a) - 1) * u + 1) ** (1 / (1 - a))
        return min(int(x) - 1, n - 1)

    def _remove(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def apply(self, op: str, key: int, after: dict | None) -> None:
        """Apply one change; the oracle is exactly this replay."""
        if op == "d":
            self.rows.pop(key, None)
            if key in self.pos:
                self._remove(key)
        else:
            if key not in self.rows:
                self.pos[key] = len(self.live)
                self.live.append(key)
            self.rows[key] = after
        self.ops[op] += 1

    def next_change(self) -> tuple[str, dict | None, dict | None, int]:
        """Draw one change, apply it, return (op, before, after, offset)."""
        u = self.rng.random()
        if u < 0.10 or not self.live:
            key = self.next_id
            self.next_id += 1
            op, before, after = "c", None, self._image(key)
        elif u < 0.90:
            key = self.live[self._zipf_index()]
            op, before, after = "u", self.rows[key], self._image(key)
        else:
            key = self.live[self.rng.randrange(len(self.live))]
            op, before, after = "d", self.rows[key], None
        self.apply(op, key, after)
        off = self.offset
        self.offset += 1
        return op, before, after, off


def _json_row(row: dict | None) -> dict | None:
    if row is None:
        return None
    out = dict(row)
    out["o_orderdate"] = time.strftime(
        "%Y-%m-%dT%H:%M:%S", time.gmtime(row["o_orderdate"]))
    return out


def envelope_line(op, before, after, offset, ts_ms) -> str:
    return json.dumps({
        "op": op, "before": _json_row(before), "after": _json_row(after),
        "ts_ms": ts_ms,
        "source": {"schema": "public", "table": "orders", "lsn": offset},
        "offset": offset,
    })


def land(out_dir: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(out_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(out_dir, name))


def load_rows(path: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    dates = [us // 1_000_000 for us in
             table["o_orderdate"].cast(pa.int64()).to_pylist()]
    tbl = table.to_pydict()
    return {
        k: {"id": k, "o_custkey": c, "o_orderstatus": s, "o_totalprice": p,
            "o_orderdate": d, "o_orderpriority": pr}
        for k, c, s, p, d, pr in zip(tbl["id"], tbl["o_custkey"],
                                     tbl["o_orderstatus"], tbl["o_totalprice"],
                                     dates, tbl["o_orderpriority"])
    }


def write_oracle(rows: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(rows)
    cols = {c: [rows[k][c] for k in keys] for c in COLUMNS}
    cols["o_orderdate"] = [d * 1_000_000 for d in cols["o_orderdate"]]
    tbl = pa.table({
        "id": pa.array(cols["id"], pa.int64()),
        "o_custkey": pa.array(cols["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(cols["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(cols["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(cols["o_orderdate"], pa.timestamp("us")),
        "o_orderpriority": pa.array(cols["o_orderpriority"], pa.string()),
    })
    pq.write_table(tbl, path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--orders", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    for flag in ("--rate", "--files-per-s", "--warmup-events",
                 "--burst-events"):
        ap.add_argument(flag, type=int, required=True)
    args = ap.parse_args(argv)

    rows = load_rows(args.orders)
    model = ChangeModel(rows, args.seed, max(len(rows) // 10, 1))
    per_file = max(args.rate // args.files_per_s, 1)
    files = []

    def emit(phase, i, due_s):
        lines = [envelope_line(*model.next_change(), int(due_s * 1000))
                 for _ in range(per_file)]
        name = f"{phase}-{i:06d}.json"
        land(args.out, name, lines)
        files.append({"name": name, "phase": phase,
                      "due_ms": due_s * 1000, "landed_ms": time.time() * 1000,
                      "events": len(lines)})

    def land_all(phase, events):
        now = time.time()
        for i in range(max(events // per_file, 1)):
            emit(phase, i, now)

    def command(word):
        cmd = sys.stdin.readline().split()
        return cmd[1:] if cmd and cmd[0] == word else None

    land_all("warm", args.warmup_events)
    print("warm", flush=True)

    go = command("go")
    if go is None:
        return 2
    t0 = time.time()
    for i in range(int(float(go[0]) * args.files_per_s)):
        due = t0 + i / args.files_per_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        emit("live", i, due)
    print("done", flush=True)

    bursts = 0
    while True:
        cmd = sys.stdin.readline().split()
        if cmd == ["burst"]:
            land_all(f"burst{bursts}", args.burst_events)
            bursts += 1
            print("burst", flush=True)
        elif cmd == ["end"]:
            break
        else:
            return 2
    os.makedirs(args.log, exist_ok=True)
    write_oracle(model.rows, os.path.join(args.log, "oracle.parquet"))
    with open(os.path.join(args.log, "log.json"), "w") as fh:
        json.dump({"files": files, "ops": model.ops, "live_start_ms": t0 * 1000,
                   "events": model.offset}, fh)
    print("end", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
