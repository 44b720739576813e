"""``dashboard_rw``: the read path beside writes.

Setup backfills the ``orders`` mirror and a 2,000 x 64-d ``embeddings``
mirror, builds its ``put_knn_index`` and reads the footers of the
analytics panel's fixture tables (surface.py). Then ONE closed-loop
client runs an untimed warm-up round and a fixed number of measured
rounds. A round is the ten mirror read kinds and two ``queries()``
entries of the analytics panel, in one fixed order, with one 100-action
``_bulk`` write (the reference Lambda's batch size) in the middle, so
12 in 13 requests are reads. Request parameters come from the seed.
Each request is timed to its collected result; a pandas model of the
mirror, updated with the client's own ``_bulk`` actions, checks every
answer outside the timer (the panel's entries against their DuckDB
oracle), and the whole mirror is compared with the model at the end.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time

import numpy as np
import pandas as pd

from perfbench import common, datagen, surface

ROWS = int(30_000 * common.SCALE)
VECTORS = 2000
BULK_ACTIONS = 100
K = 10
# ANN candidates re-ranked exactly per k-NN query (OpenSearch's
# num_candidates; the engine's default is 50)
CANDIDATES = 200
# An ANN answer below this many of the exact top-10 counts as wrong.
RECALL_FLOOR = 5
# Rounds per run: one per ROUND_S of --seconds, about what a round
# takes at HEAD on 4 cores.
ROUND_S = 15
# queries() entries of the analytics panel per round
ANALYTICS_PER_ROUND = 2
# One set-up per run: with the k-NN index it takes 5-8 s, so repeating
# it would not leave the run inside its time budget.
SETUP_REPS = 1
# Untimed rounds before the measured ones. A fresh JVM spends the first
# round mostly compiling: its CPU time, JIT threads counted, ran 60 s
# against 44 s and 36 s for the next two rounds.
WARMUP_ROUNDS = 1
# The IVF-PQ index: 8 coarse cells, 8 sub-quantizers of 16 codewords
# (the engine's defaults), trained here with numpy (see quantizers).
CELLS, SUBSPACES, CODEWORDS = 8, 8, 16

MIRROR_KINDS = ("term", "range_sort", "bool", "terms_agg",
                "date_histogram", "query_string", "sql_group", "count",
                "mget", "knn")
READ_KINDS = MIRROR_KINDS + ("analytics",)


def _kmeans(x: np.ndarray, k: int, rng, iterations: int = 10) -> np.ndarray:
    """Lloyd's k-means from a farthest-point start (the engine trainer's
    own init rule)."""
    centers = [x[rng.integers(len(x))]]
    dist = ((x - centers[0]) ** 2).sum(1)
    while len(centers) < k:
        centers.append(x[int(dist.argmax())])
        dist = np.minimum(dist, ((x - centers[-1]) ** 2).sum(1))
    c = np.array(centers)
    for _ in range(iterations):
        cell = ((x[:, None, :] - c[None]) ** 2).sum(-1).argmin(1)
        for j in range(k):
            if (cell == j).any():
                c[j] = x[cell == j].mean(0)
    return c


def quantizers(emb: pd.DataFrame, seed: int) -> tuple[list, list]:
    """Coarse centroids and PQ codebook for ``put_knn_index``, trained
    with numpy from the seed. The engine trains them with Spark jobs at
    5-15 s per index on 4 cores, more than a run's set-up budget, so
    the benchmark times the index build proper (scan, encode and the
    cell-partitioned write) and hands the engine the quantizers, a
    path its API offers for frozen-quantizer set-ups."""
    rng = np.random.default_rng([seed, 4])
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    centroids = _kmeans(x, CELLS, rng)
    dsub = x.shape[1] // SUBSPACES
    codebook = [_kmeans(x[:, i * dsub:(i + 1) * dsub], CODEWORDS, rng)
                for i in range(SUBSPACES)]
    return centroids.tolist(), [c.tolist() for c in codebook]


class Model:
    """The client's own picture of the mirror: the backfilled rows plus
    every ``_bulk`` action it issued."""

    def __init__(self, orders: pd.DataFrame, emb: pd.DataFrame):
        self.orders = orders.set_index("id", drop=False).rename_axis(
            None).sort_index()
        self.emb_ids = emb["id"].to_numpy()
        self.emb = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.next_id = int(orders["id"].max()) + 1

    def bulk(self, rng: random.Random, np_rng) -> tuple[list, dict]:
        live = self.orders.index.to_numpy()
        actions, counts = [], {"index": 0, "delete": 0}
        n_new = BULK_ACTIONS // 5
        n_del = BULK_ACTIONS // 10
        keys = [int(k) for k in np_rng.choice(live, BULK_ACTIONS - n_new,
                                              replace=False)]
        dels, upd = keys[:n_del], keys[n_del:]
        new_ids = list(range(self.next_id, self.next_id + n_new))
        self.next_id += n_new
        images = datagen.order_rows(np_rng, np.array(upd + new_ids),
                                    max(ROWS // 10, 1))
        for rec in images.to_dict("records"):
            doc = dict(rec)
            doc["o_orderdate"] = pd.Timestamp(doc["o_orderdate"]).to_pydatetime()
            actions.append({"index": doc})
        actions += [{"delete": {"id": k}} for k in dels]
        rng.shuffle(actions)
        counts["index"] = len(upd) + n_new
        counts["delete"] = n_del
        idx = images.set_index("id", drop=False).rename_axis(None)
        self.orders = pd.concat([
            self.orders.drop(index=dels + upd), idx]).sort_index()
        return actions, counts


def _rows(df: pd.DataFrame, cols) -> list[tuple]:
    out = []
    for rec in df[cols].itertuples(index=False):
        out.append(tuple(_norm(v) for v in rec))
    return out


def _norm(v):
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).to_pydatetime()
    if isinstance(v, np.generic):
        return v.item()
    return v


COLS = ["id", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"]


def _spark_rows(rows) -> list[tuple]:
    return [tuple(r[c] for c in COLS) for r in rows]


def _close(a, b) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Client:
    def __init__(self, eng, model: Model, panel, seed: int, tracer):
        self.eng, self.m, self.panel, self.tracer = eng, model, panel, tracer
        self.entries = iter(panel.names)
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng([seed, 9])
        self.failed = 0
        self.attempted = 0
        self.reset_timings()

    def reset_timings(self) -> None:
        """Forget what was timed so far (after a warm-up); the counts of
        attempted and failed requests go on."""
        self.lat: dict[str, list[float]] = {k: [] for k in READ_KINDS}
        self.bulk_lat: list[float] = []
        self.bulk_cpu: list[float] = []
        self.knn_recall: list[int] = []
        self.read_spans: list[dict] = []
        self.panel.build_s.clear()
        # commit dirs the manifest references when each read starts
        self.commits_seen: list[int] = []

    # Each read returns (run, check): run() is timed and returns the raw
    # answer; check(answer) is evaluated outside the timer.

    def _search(self, body):
        def run():
            df = self.eng.search("orders", body)
            rows = df.collect()
            return df, rows
        return run

    def term(self):
        prio = self.rng.choice(datagen.PRIORITIES)
        body = {"query": {"term": {"o_orderpriority": prio}},
                "sort": [{"id": {"order": "asc"}}], "size": 10}
        o = self.m.orders
        want = _rows(o[o.o_orderpriority == prio].sort_values("id").head(10), COLS)
        return self._search(body), lambda got: _spark_rows(got) == want

    def range_sort(self):
        lo = round(self.rng.uniform(1_000, 400_000), 2)
        hi = lo + 50_000
        body = {"query": {"range": {"o_totalprice": {"gte": lo, "lt": hi}}},
                "sort": [{"o_totalprice": {"order": "desc"}},
                         {"id": {"order": "asc"}}], "size": 20}
        o = self.m.orders
        sel = o[(o.o_totalprice >= lo) & (o.o_totalprice < hi)]
        want = _rows(sel.sort_values(["o_totalprice", "id"],
                                     ascending=[False, True]).head(20), COLS)
        return self._search(body), lambda got: _spark_rows(got) == want

    def bool(self):
        status = self.rng.choice(["F", "O"])
        year = self.rng.randrange(1992, 1998)
        body = {"query": {"bool": {
            "must": [{"term": {"o_orderstatus": status}}],
            "filter": [{"range": {"o_orderdate": {
                "gte": f"{year}-01-01", "lt": f"{year + 1}-01-01"}}}]}},
            "sort": [{"id": {"order": "desc"}}], "size": 10}
        o = self.m.orders
        sel = o[(o.o_orderstatus == status)
                & (o.o_orderdate >= pd.Timestamp(f"{year}-01-01"))
                & (o.o_orderdate < pd.Timestamp(f"{year + 1}-01-01"))]
        want = _rows(sel.sort_values("id", ascending=False).head(10), COLS)
        return self._search(body), lambda got: _spark_rows(got) == want

    def terms_agg(self):
        body = {"size": 0, "aggs": {"by_prio": {"terms": {
            "field": "o_orderpriority"}}}}
        want = self.m.orders.o_orderpriority.value_counts().to_dict()
        return self._search(body), lambda got: (
            {r["by_prio"]: r["doc_count"] for r in got} == want)

    def date_histogram(self):
        body = {"size": 0, "aggs": {"per_year": {
            "date_histogram": {"field": "o_orderdate",
                               "calendar_interval": "year"},
            "aggs": {"revenue": {"sum": {"field": "o_totalprice"}}}}}}
        o = self.m.orders
        g = o.groupby(o.o_orderdate.dt.year).agg(
            n=("id", "size"), rev=("o_totalprice", "sum"))
        want = {int(y): (int(r.n), float(r.rev)) for y, r in g.iterrows()}

        def check(got):
            have = {r["per_year"].year: (r["doc_count"], r["revenue"])
                    for r in got}
            return set(have) == set(want) and all(
                have[y][0] == want[y][0] and _close(have[y][1], want[y][1])
                for y in want)
        return self._search(body), check

    def query_string(self):
        status = self.rng.choice(["F", "O"])
        cust = self.rng.randrange(max(ROWS // 10, 1))
        qs = f"o_orderstatus:{status} AND o_custkey:{cust}"
        o = self.m.orders
        want = sorted(_rows(o[(o.o_orderstatus == status)
                              & (o.o_custkey == cust)], COLS))

        def run():
            df = self.eng.query_string("orders", qs, size=100)
            return df, df.collect()
        return run, lambda got: sorted(_spark_rows(got)) == want

    def sql_group(self):
        year = self.rng.randrange(1992, 1998)
        q = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS revenue "
             f"FROM orders WHERE o_orderdate >= TIMESTAMP '{year}-01-01' "
             "GROUP BY o_orderstatus")
        o = self.m.orders
        sel = o[o.o_orderdate >= pd.Timestamp(f"{year}-01-01")]
        g = sel.groupby("o_orderstatus").agg(n=("id", "size"),
                                             rev=("o_totalprice", "sum"))
        want = {s: (int(r.n), float(r.rev)) for s, r in g.iterrows()}

        def run():
            df = self.eng.sql(q)
            return df, df.collect()

        def check(got):
            have = {r["o_orderstatus"]: (r["n"], r["revenue"]) for r in got}
            return set(have) == set(want) and all(
                have[s][0] == want[s][0] and _close(have[s][1], want[s][1])
                for s in want)
        return run, check

    def count(self):
        lo = round(self.rng.uniform(1_000, 450_000), 2)
        query = {"range": {"o_totalprice": {"gte": lo}}}
        want = int((self.m.orders.o_totalprice >= lo).sum())
        return (lambda: (None, self.eng.count("orders", query)),
                lambda got: got == want)

    def mget(self):
        live = self.m.orders.index.to_numpy()
        ids = [int(x) for x in self.np_rng.choice(live, 15, replace=False)]
        ids += [int(self.m.next_id + 1000 + i) for i in range(5)]  # absent
        o = self.m.orders
        want = sorted(_rows(o.loc[o.index.intersection(ids)], COLS))

        def run():
            df = self.eng.mget("orders", ids)
            return df, df.collect()
        return run, lambda got: sorted(_spark_rows(got)) == want

    def knn(self):
        base = self.m.emb[self.rng.randrange(len(self.m.emb))]
        q = base + 0.01 * self.np_rng.normal(size=base.shape)
        q = [float(x) for x in q / np.linalg.norm(q)]
        body = {"knn": {"embedding": {"query_vector": q, "k": K,
                                      "num_candidates": CANDIDATES}},
                "size": K}
        qa = np.array(q)
        scores = (self.m.emb @ qa) / (np.linalg.norm(self.m.emb, axis=1)
                                      * np.linalg.norm(qa))
        exact = {int(i) for i in self.m.emb_ids[np.argsort(-scores)[:K]]}
        by_id = dict(zip(self.m.emb_ids.tolist(), scores.tolist()))

        def run():
            df = self.eng.search("embeddings", body)
            return df, df.collect()

        def check(got):
            ids = [r["id"] for r in got]
            self.knn_recall.append(len(exact & set(ids)))
            sc = [r["cos_sim"] for r in got]
            return (len(ids) == K and sc == sorted(sc, reverse=True)
                    and all(abs(r["cos_sim"] - by_id[r["id"]]) <= 2e-6
                            for r in got)
                    and self.knn_recall[-1] >= RECALL_FLOOR)
        return run, check

    def analytics(self):
        name = next(self.entries)

        def run():
            if self.tracer is not None:
                self.tracer.current()["attrs"].update(
                    entry=name, module=self.panel.module_of[name])
            return self.panel.run(name)
        return run, lambda got: self.panel.check(name, got)

    # -- the loop ------------------------------------------------------------

    def read(self, kind: str) -> None:
        run, check = getattr(self, kind)()
        self.attempted += 1
        manifest = self.eng.tables["orders"].sink.latest_manifest()
        self.commits_seen.append(len(set(manifest["buckets"].values())))
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            if tr is None:
                df, got = run()
            else:
                with tr.span(f"read.{kind}") as rec:
                    df, got = run()
                    if df is not None:
                        tr.plan_phases(df, rec)
                self.read_spans.append(rec)
        except Exception as exc:  # a failed request is counted, not fatal
            print(f"dashboard: {kind} raised {exc!r}", file=sys.stderr)
            self.failed += 1
            return
        self.lat[kind].append(time.perf_counter() - t0)
        if not check(got):
            print(f"dashboard: wrong {kind} answer", file=sys.stderr)
            self.failed += 1

    def bulk(self) -> None:
        actions, want = self.m.bulk(self.rng, self.np_rng)
        self.attempted += 1
        cpu0 = common.cpu_seconds()
        t0 = time.perf_counter()
        try:
            got = self.eng.bulk("orders", actions)
        except Exception as exc:
            print(f"dashboard: bulk raised {exc!r}", file=sys.stderr)
            self.failed += 1
            return
        self.bulk_lat.append(time.perf_counter() - t0)
        self.bulk_cpu.append(common.cpu_seconds() - cpu0)
        if got != want:
            self.failed += 1

    def loop(self, rounds: int) -> float:
        """``rounds`` whole rounds: each holds every mirror read kind
        once and the panel's next entries, in one fixed order, with one
        ``_bulk`` in the middle. A fixed number of rounds, not a time
        limit, so every run times the same mix against the same number
        of commits."""
        ops = list(MIRROR_KINDS) + ["analytics"] * ANALYTICS_PER_ROUND
        ops.insert(len(ops) // 2, "bulk")
        t0 = time.perf_counter()
        for _ in range(rounds):
            for op in ops:
                if op == "bulk":
                    self.bulk()
                else:
                    self.read(op)
        return time.perf_counter() - t0


def run(ctx) -> dict:
    from pyspark.sql import types as T

    from postgres_opensearch_cdc_spark.engine import CdcEngine

    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    rounds = max(1, round(ctx.seconds / ROUND_S))
    orders_path = os.path.join(work, "orders.parquet")
    emb_path = os.path.join(work, "embeddings.parquet")
    orders = datagen.write_orders(orders_path, ctx.seed, ROWS)
    emb = datagen.write_embeddings(emb_path, ctx.seed, VECTORS)
    panel = surface.Panel(spark, work, ctx.seed,
                          (WARMUP_ROUNDS + rounds) * ANALYTICS_PER_ROUND)

    def plain(path):
        return T.StructType([T.StructField(f.name, f.dataType)
                             for f in spark.read.parquet(path).schema])

    o_schema, e_schema = plain(orders_path), plain(emb_path)
    centroids, codebook = quantizers(emb, ctx.seed)

    def setup(rep):
        wd = os.path.join(work, f"engine{rep}")
        t0 = time.perf_counter()
        eng = CdcEngine(spark, wd)
        eng.register_table("orders", o_schema)
        eng.register_table("embeddings", e_schema)
        eng.backfill("orders", spark.read.parquet(orders_path))
        backfill_s = time.perf_counter() - t0
        eng.backfill("embeddings", spark.read.parquet(emb_path))
        t1 = time.perf_counter()
        eng.put_knn_index("embeddings", "embedding", centroids=centroids,
                          codebook=codebook)
        index_s = time.perf_counter() - t1
        panel.load_tables()
        return eng, time.perf_counter() - t0, backfill_s, index_s

    try:
        setups = [setup(rep) for rep in range(SETUP_REPS)]
        eng = setups[-1][0]
        client = Client(eng, Model(orders, emb), panel, ctx.seed, tracer)
        client.loop(WARMUP_ROUNDS)
        client.reset_timings()
        if tracer is not None:
            tracer.reset()
        cpu0 = common.cpu_seconds()
        window = client.loop(rounds)
        cpu_s = common.cpu_seconds() - cpu0
    finally:
        panel.close()

    # the whole mirror against the model: every write landed exactly once
    got = eng.view("orders").toPandas()[COLS].sort_values("id")
    want = client.m.orders[COLS].sort_values("id")
    got["o_orderdate"] = got["o_orderdate"].astype("datetime64[us]")
    want = want.assign(o_orderdate=want["o_orderdate"].astype("datetime64[us]"))
    if not got.reset_index(drop=True).equals(want.reset_index(drop=True)):
        print("dashboard: mirror != model after the run", file=sys.stderr)
        client.failed += len(client.bulk_lat)

    reads = [x for k in READ_KINDS for x in client.lat[k]]
    # p90 over whole rounds of the read kinds: the slow kinds' latency.
    # Too few reads for the ten-beyond rule; the sample size is printed.
    read_tail = common.percentile(reads, 90)
    n_req = len(reads) + len(client.bulk_lat)
    backfill_s = common.median([s[2] for s in setups])
    entries = client.lat["analytics"]
    named = {
        "backfill_rows_per_s": (ROWS / backfill_s, "1/s"),
        "read_latency_p50_s": (common.median(reads), "s"),
        "read_latency_p90_s": (read_tail, "s"),
        "bulk_latency_p50_s": (common.median(client.bulk_lat), "s"),
        "requests_per_s": (n_req / window, "1/s"),
        "surface_total_s": (sum(entries), "s"),
        "surface_geomean_s": (common.geomean(entries), "s"),
    }
    e2e = {
        "setup_s": ctx.session_s + common.median([s[1] for s in setups]),
        "commit_cpu_s": sum(client.bulk_cpu) / len(client.bulk_cpu),
        "cpu_ms_per_op": 1e3 * cpu_s / n_req,
    }
    layer = {
        "backfill.rows_per_s": ROWS / backfill_s,
        "knn.index_build_s": common.median([s[3] for s in setups]),
        "knn.recall_at_10": common.median(client.knn_recall),
        "proc.cpu_s": cpu_s,
        "sink.commits_per_manifest": common.median(client.commits_seen),
        **{f"read.{k}.latency_p50_s": common.median(client.lat[k])
           for k in READ_KINDS},
        "surface.build_s": sum(panel.build_s.values()),
        "surface.collect_s": sum(entries) - sum(panel.build_s.values()),
    }
    if tracer is not None:
        layer.update(_layers(tracer, client))
    return {
        "attempted": client.attempted, "failed": client.failed,
        "e2e": e2e, "named": named, "layer": layer, "window_s": window,
        "note": f"{len(reads)} reads, {len(client.bulk_lat)} bulks; "
                f"knn recall@10 {client.knn_recall}; "
                f"analytics entries {panel.names}",
    }


def _ms(spans) -> list[float]:
    return [1000 * (s["end"] - s["start"]) for s in spans]


def _layers(tracer, client) -> dict:
    tracer.harvest()
    mirror = [s for s in client.read_spans if s["name"] != "read.analytics"]
    panel = [s for s in client.read_spans if s["name"] == "read.analytics"]
    n = max(len(mirror), 1)

    def phase(key):
        return common.median([s["attrs"][key] for s in mirror
                              if key in s["attrs"]])

    def per_read(field):
        return sum(s["tree"][field] for s in mirror) / n

    def total(field):
        return sum(s["tree"][field] for s in panel)

    search_build = []
    for s in tracer.named("engine.search"):
        inner = sum(c["end"] - c["start"]
                    for c in tracer.children(s, "engine.view"))
        search_build.append(1000 * (s["end"] - s["start"] - inner))
    bulk_ids = {s["id"] for s in tracer.named("engine.bulk")}
    applies = [s for s in tracer.named("sink.apply") if s["parent"] in bulk_ids]
    out = {
        "view.build_ms_p50": common.median(_ms(tracer.named("engine.view"))),
        "search.build_ms_p50": common.median(search_build),
        "plan.analysis_ms_p50": phase("analysis_ms"),
        "plan.optimization_ms_p50": phase("optimization_ms"),
        "plan.planning_ms_p50": phase("planning_ms"),
        "exec.jobs_per_read": per_read("jobs"),
        "exec.stages_per_read": per_read("stages"),
        "exec.tasks_per_read": per_read("tasks"),
        "exec.run_ms_per_read": per_read("run_ms"),
        "exec.input_bytes_per_read": per_read("input"),
        "exec.shuffle_bytes_per_read": per_read("shuffle"),
        "knn.search_ms_p50": common.median(
            _ms([s for s in mirror if s["name"] == "read.knn"])),
        "surface.plan_ms": sum(
            s["attrs"].get(k, 0) for s in panel
            for k in ("analysis_ms", "optimization_ms", "planning_ms")),
        "surface.jobs": total("jobs"),
        "surface.stages": total("stages"),
        "surface.tasks": total("tasks"),
        "surface.exec_run_s": total("run_ms") / 1e3,
        "surface.shuffle_bytes": total("shuffle"),
        "surface.input_bytes": total("input"),
        # wall time of the entries in which none of their jobs ran
        "surface.driver_only_s": sum(
            max(s["end"] - s["start"] - s["tree"]["job_ms"] / 1e3, 0.0)
            for s in panel),
    }
    for s in panel:
        s["attrs"]["build_s"] = client.panel.build_s[s["attrs"]["entry"]]
    if applies:
        m = len(applies)
        out.update({
            "sink.apply_ms_p50": common.median(_ms(applies)),
            "sink.jobs_per_commit": sum(s["tree"]["jobs"] for s in applies) / m,
            "sink.stages_per_commit":
                sum(s["tree"]["stages"] for s in applies) / m,
            "sink.tasks_per_commit": sum(s["tree"]["tasks"] for s in applies) / m,
            "sink.exec_run_ms_per_commit":
                sum(s["tree"]["run_ms"] for s in applies) / m,
            "sink.shuffle_bytes_per_commit":
                sum(s["tree"]["shuffle"] for s in applies) / m,
            "sink.bytes_written_per_event":
                sum(s["tree"]["output"] for s in applies) / (m * BULK_ACTIONS),
        })
    return out
