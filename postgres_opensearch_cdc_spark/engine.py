"""CdcEngine — the top-level façade tying the pieces into the
reference's user-visible lifecycle (SURVEY §3):

    engine = CdcEngine(spark, workdir)
    engine.register_table("card", schema)          # ≙ index DDL (setup.sh:128-145)
    engine.backfill("card", snapshot_df)           # ≙ snapshot.mode=initial
    engine.start_stream("card", changelog_dir)     # ≙ consumer.py poll loop
    engine.view("card")                            # always-current mirror
    spark.sql("SELECT status, count(*) FROM card_mirror GROUP BY 1")

A reference user's workflow maps 1:1: tables are registered with
explicit schemas, the snapshot backfill runs as a batch write, the
change stream applies through the checkpointed merge sink, and every
mirror is queryable as a SQL view at any moment (the "always-current,
queryable mirror" contract, README.md:18-22 of the reference).

Beyond _search, the façade carries the surrounding stack's shapes:
bulk/mget/update/reindex/count/delete_by_query/update_by_query
writes, aliases, snapshot/restore DR, per-field k-NN vector indexes
with a staleness-safe serving plan, continuous aggregates
(start_rollup_stream — the rollup-job table maintained from
before/after images, full metric set; search_rollup re-aggregates
them at coarser buckets), and alerting monitors (put_monitor —
evaluated after every micro-batch merge, exactly-once alert log).
Engine state persists under the workdir and rehydrates on restart:
knn sidecars, rollup specs, AND the catalog (aliases / monitors /
templates, `_catalog.json`) — a restarted engine answers
search_template / evaluate_monitors / alias searches without
re-registration.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from postgres_opensearch_cdc_spark.commits import write_json_atomic
from postgres_opensearch_cdc_spark.parquet_dirs import read_parquet_dirs
from postgres_opensearch_cdc_spark.sources.changelog import file_changelog_stream
from postgres_opensearch_cdc_spark.streaming.apply import (
    RollupSink,
    VersionedMirrorSink,
    observed_metrics,
    start_mirror_stream,
)


@dataclass
class TableHandle:
    name: str
    schema: T.StructType
    sink: VersionedMirrorSink
    query: object | None = None  # StreamingQuery when live


@dataclass
class CdcEngine:
    spark: SparkSession
    workdir: str
    key_col: str = "id"
    seq_col: str = "offset"
    tables: dict[str, TableHandle] = field(default_factory=dict)
    aliases: dict[str, list[str]] = field(default_factory=dict)
    # (table, field) -> built-index metadata; see put_knn_index
    knn_indexes: dict = field(default_factory=dict)
    # rollup name -> RollupSink; see start_rollup_stream
    rollups: dict = field(default_factory=dict)
    # rollup name -> live StreamingQuery (cleared by await_all)
    rollup_queries: dict = field(default_factory=dict)
    # monitor name -> spec dict; see put_monitor
    monitors: dict = field(default_factory=dict)
    # template name -> {source, params}; see put_template
    templates: dict = field(default_factory=dict)
    # monitor name -> whether its last evaluation in this engine fired;
    # picks the evaluation's write path (see _evaluate_monitor)
    _monitor_fired: dict = field(default_factory=dict, init=False, repr=False)

    # -- lifecycle ---------------------------------------------------------

    def __post_init__(self) -> None:
        self._load_catalog()

    # -- durable catalog ---------------------------------------------------
    # Aliases, monitors, and templates are cluster-state in the
    # reference stack (an OpenSearch restart keeps them); an engine
    # restart must too. Every put_* persists the whole catalog with
    # the same atomic-rename protocol as the rollup/knn sidecars, and
    # construction rehydrates it — so a restarted engine answers
    # search_template / evaluate_monitors / alias searches without
    # re-registration. Alias membership is validated at put time;
    # rehydrated aliases resolve lazily once their member tables are
    # re-registered (tables are always registered after construction).

    @property
    def _catalog_path(self) -> str:
        return os.path.join(self.workdir, "_catalog.json")

    def _save_catalog(self) -> None:
        write_json_atomic(self._catalog_path, {
            "aliases": self.aliases,
            "monitors": self.monitors,
            "templates": self.templates,
        })

    def _load_catalog(self) -> None:
        import json

        if not os.path.exists(self._catalog_path):
            return
        with open(self._catalog_path) as fh:
            data = json.load(fh)
        self.aliases.update(data.get("aliases", {}))
        self.monitors.update(data.get("monitors", {}))
        self.templates.update(data.get("templates", {}))

    def register_table(
        self, name: str, schema: T.StructType, bucket_expr: str | None = None
    ) -> TableHandle:
        """W4 bootstrap: declare the table with its explicit schema and
        create its (empty) keyed mirror.

        Schema rules (validated here so the write APIs can't build
        ambiguous rows later): the key column must be a schema field;
        the sink's op column must NOT be (it is merge metadata the
        engine owns). The seq column MAY be a schema field — the
        "CDC offset embedded in the row" style engine_search_mirror
        uses — in which case backfill/bulk fill that field instead of
        appending a second copy."""
        names = [f.name for f in schema.fields]
        if self.key_col not in names:
            raise ValueError(
                f"schema for {name!r} must contain key column {self.key_col!r}"
            )
        if "op" in names:
            raise ValueError(
                f"schema for {name!r} must not contain 'op' — it is the "
                "merge sink's op-code column"
            )
        mirror_path = os.path.join(self.workdir, f"mirror_{name}")
        sink = VersionedMirrorSink(
            path=mirror_path,
            key_cols=[self.key_col],
            seq_cols=[self.seq_col],
            bucket_expr=bucket_expr,
        )
        handle = TableHandle(name=name, schema=schema, sink=sink)
        self.tables[name] = handle
        self._rehydrate_knn_indexes(name)
        return handle

    def _rehydrate_knn_indexes(self, name: str) -> None:
        """A new CdcEngine over an existing workdir must find the
        persisted vector indexes: probe ``knn_<name>_*/_knn_meta.json``
        sidecars and repopulate ``knn_indexes`` so index-backed knn
        (and its staleness contract) survives an engine restart rather
        than silently falling back to exact scans. The dir name is
        cross-checked against the meta's own ``vec_field`` so a table
        name that prefixes another can't claim the wrong index."""
        import glob
        import json

        for meta_path in glob.glob(
            os.path.join(self.workdir, f"knn_{name}_*", "_knn_meta.json")
        ):
            try:
                with open(meta_path) as fh:
                    meta = json.load(fh)
            except (OSError, ValueError):
                continue  # crashed/partial sidecar: index not ready
            vec_field = meta.get("vec_field")
            expected = os.path.join(self.workdir, f"knn_{name}_{vec_field}")
            if vec_field and os.path.dirname(meta_path) == expected:
                self.knn_indexes.setdefault((name, vec_field), meta)

    def backfill(self, name: str, snapshot: DataFrame) -> None:
        """S2/ST1: snapshot rows are op='r' upserts applied before the
        stream — uniform with live changes (reference consumer.py:60-68)."""
        handle = self.tables[name]
        cols = [F.lit("r").alias("op"), *[F.col(c) for c in snapshot.columns]]
        if self.seq_col not in snapshot.columns:
            # seq embedded in the row (registered as a schema field) is
            # used as-is; otherwise snapshot rows sit below every live
            # change at seq -1
            cols.append(F.lit(-1).cast("long").alias(self.seq_col))
        handle.sink.apply_batch(snapshot.select(*cols), batch_id=-1)

    def start_stream(self, name: str, changelog_dir: str, available_now: bool = True):
        """S1/S3: attach the changelog stream (file-based here; the Kafka
        builder in sources.changelog is the prod drop-in) and run the
        checkpointed merge. availableNow drains-and-stops for tests."""
        handle = self.tables[name]
        stream = file_changelog_stream(self.spark, changelog_dir, handle.schema)
        flat = stream.select(
            "op",
            *[
                F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
                if c == self.key_col
                else F.col(f"after.{c}").alias(c)
                for c in [f.name for f in handle.schema.fields]
            ],
            F.col("offset").alias(self.seq_col),
        )
        ckpt = os.path.join(self.workdir, f"ckpt_{name}")

        def _covers(target: str) -> bool:
            # a monitor on an alias evaluates when any MEMBER streams
            return target == name or name in self.aliases.get(target, [])

        monitored = sorted(
            mn for mn, m in self.monitors.items() if _covers(m["table"])
        )
        after = None
        if monitored:
            after = lambda bid: {  # noqa: E731
                mn: self._evaluate_monitor(mn, bid, writer_id=ckpt)
                for mn in monitored
            }
        handle.query = start_mirror_stream(
            flat, handle.sink, ckpt, trigger_available_now=available_now,
            after_batch=after,
        )
        return handle.query

    def start_routed_stream(self, changelog_dir: str,
                            tables: list[str] | None = None,
                            available_now: bool = True):
        """ONE changelog stream carrying several tables' events — the
        reference consumer's actual shape (3 topics → 3 indices in one
        consumer, consumer.py:17-21) — routed by ``source.table``
        inside a single foreachBatch/checkpoint to each registered
        mirror. The batch is materialized once; each table's slice is
        an independent keyed merge into its own mirror.

        The envelope parse uses the UNION of the routed tables'
        schemas (PERMISSIVE from_json null-fills fields absent from a
        given table's events); each table's slice then projects
        exactly its own columns before its keyed merge. One checkpoint
        covers all tables, so recovery replays every slice with the
        same batch_id and each sink's exactly-once guard holds
        per-mirror. Same-named columns must agree on type across the
        routed tables (validated), and the stream-level ``offset`` is
        the sequence for every table — tables that embed their own seq
        column use the per-table start_stream instead."""
        import hashlib

        tables = list(tables or self.tables)
        merged: dict[str, T.StructField] = {}
        for t in tables:
            fields = {f.name for f in self.tables[t].schema.fields}
            if self.seq_col in fields:
                raise ValueError(
                    f"routed table {t!r} embeds seq column "
                    f"{self.seq_col!r} — use start_stream for it"
                )
            for f in self.tables[t].schema.fields:
                prev = merged.get(f.name)
                if prev is not None and prev.dataType != f.dataType:
                    raise ValueError(
                        f"column {f.name!r} has conflicting types "
                        "across routed tables"
                    )
                merged[f.name] = f
        union_schema = T.StructType(list(merged.values()))
        stream = file_changelog_stream(
            self.spark, changelog_dir, union_schema
        )
        flat = stream.select(
            "op",
            F.col("source.table").alias("_route"),
            *[
                F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
                if c == self.key_col
                else F.col(f"after.{c}").alias(c)
                for c in merged
            ],
            F.col("offset").alias(self.seq_col),
        )

        # key covers the SOURCE DIRECTORY too: re-routing the same
        # table set from a different changelog dir must get a fresh
        # checkpoint, not silently reuse the old file-source log
        key = hashlib.md5(
            "\n".join([os.path.abspath(changelog_dir), *sorted(tables)])
            .encode()
        ).hexdigest()[:8]
        ckpt = os.path.join(self.workdir, f"ckpt_routed_{key}")

        def _apply(batch: DataFrame, batch_id: int) -> None:
            batch = batch.localCheckpoint(eager=True)  # slice many, scan once
            for t in tables:
                cols = ["op", *[
                    f.name for f in self.tables[t].schema.fields
                ], self.seq_col]
                slice_df = batch.filter(F.col("_route") == t).select(*cols)
                if slice_df.isEmpty():
                    continue
                # writer identity = this checkpoint: a re-route from a
                # new dir restarts batch ids at 0, which must not alias
                # the previous stream's batches in the replay guard
                self.tables[t].sink.apply_batch(
                    slice_df, batch_id, writer_id=ckpt
                )
        writer = (
            flat.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
        )
        writer = (writer.trigger(availableNow=True) if available_now
                  else writer.trigger(processingTime="5 seconds"))
        query = writer.start()
        for t in tables:
            self.tables[t].query = query
        return query

    def start_rollup_stream(self, rollup_name: str, changelog_dir: str,
                            table: str, group_col: str,
                            sum_cols: tuple = (),
                            count_cols: tuple = (),
                            avg_cols: tuple = (),
                            minmax_cols: tuple = (),
                            group_expr: str | None = None,
                            available_now: bool = True,
                            aux_num_buckets: int = 16):
        """Continuous aggregate — the reference stack's rollup-job
        shape (OpenSearch rollup jobs; the dashboard's standing
        terms-agg panel made incremental): maintain a persisted
        (group, doc_count, sum_<col>...) table DIRECTLY from the
        changelog's before/after images as ±deltas, so a dashboard
        refresh reads a #groups-row table instead of re-aggregating
        the mirror. cdc_incremental_agg is the batch/oracle-checked
        form of the same algebra; this is its checkpointed streaming
        realization (RollupSink), with the (writer_id, batch_id)
        exactly-once guard that additive merges REQUIRE.

        Contract: update events must carry their before image
        (REPLICA IDENTITY FULL — the reference pipeline's own
        requirement, setup.sh:59-65); a batch violating it fails the
        stream rather than corrupting the aggregate. Reads via
        ``engine.rollup(name)``.

        ``group_expr`` makes the bucket a DERIVED value — a SQL
        expression over the row fields evaluated on BOTH images
        (e.g. ``date_trunc('day', ts)``: the rollup-job
        date_histogram shape), published under the ``group_col``
        name.

        MULTI-DIMENSION rollups (the reference rollup-job shape
        allows a date_histogram plus terms dimensions together): pass
        a TUPLE of names as ``group_col`` and, optionally, a matching
        tuple as ``group_expr`` whose entries are a SQL expression or
        None (None = the plain column of that name). search_rollup
        then slices any one dimension, re-aggregating across the
        others.

        Metric set = the reference rollup-job metrics: ``sum_cols``
        (sum), ``count_cols`` (value_count — non-null count,
        additive), ``avg_cols`` (derived sum/valcnt at read), and
        ``minmax_cols`` (min+max, maintained delete-safely through a
        per-(group, value) count store — see RollupSink)."""
        handle = self.tables[table]
        fields = [f.name for f in handle.schema.fields]
        multi = not isinstance(group_col, str)
        names = tuple(group_col) if multi else (group_col,)
        if group_expr is None:
            exprs: tuple = (None,) * len(names)
        elif isinstance(group_expr, str):
            if multi:
                raise ValueError(
                    "tuple group_col needs a matching tuple group_expr "
                    "(use None entries for plain columns)"
                )
            exprs = (group_expr,)
        else:
            exprs = tuple(group_expr)
            if len(exprs) != len(names):
                raise ValueError(
                    f"group_expr has {len(exprs)} entries for "
                    f"{len(names)} group columns"
                )
        for n, e in zip(names, exprs):
            if e is None and n not in fields:
                raise ValueError(f"group column {n!r} not in {table!r}")
        for kind, cols in (("sum", sum_cols), ("value_count", count_cols),
                           ("avg", avg_cols), ("min/max", minmax_cols)):
            for c in cols:
                if c not in fields:
                    raise ValueError(f"{kind} column {c!r} not in {table!r}")
        sink = self._resolve_rollup(rollup_name)
        if sink is None:
            sink = RollupSink(
                path=os.path.join(self.workdir, f"rollup_{rollup_name}"),
                group_col=group_col, sum_cols=tuple(sum_cols),
                count_cols=tuple(count_cols), avg_cols=tuple(avg_cols),
                minmax_cols=tuple(minmax_cols),
                aux_num_buckets=aux_num_buckets,
            )
            self.rollups[rollup_name] = sink
            # persist the NORMALIZED expr form: the re-open check below
            # compares against list(exprs) for multi-dim rollups, so
            # persisting the raw arg (None) would raise a spurious
            # spec-mismatch on restart of a plain multi-dim rollup
            self._write_rollup_meta(
                rollup_name, sink, table,
                list(exprs) if multi else group_expr,
            )
        else:
            # an existing store must not be fed deltas under a DIFFERENT
            # spec — additive state under mixed groupings is silent
            # corruption, so the mismatch raises instead
            meta = self._rollup_meta(rollup_name) or {}
            want = {"group_col": list(names) if multi else group_col,
                    "sum_cols": list(sum_cols),
                    "count_cols": list(count_cols),
                    "avg_cols": list(avg_cols),
                    "minmax_cols": list(minmax_cols),
                    "table": table,
                    "group_expr": list(exprs) if multi else group_expr,
                    "aux_num_buckets": aux_num_buckets}
            have = {k: meta.get(k, [] if k.endswith("_cols") else None)
                    for k in want}
            if have.get("aux_num_buckets") is None:
                have["aux_num_buckets"] = 16  # pre-round-12 metas
            if multi and have.get("group_expr") is None:
                # stores persisted before the normalization fix recorded
                # the raw None for plain multi-dim rollups
                have["group_expr"] = [None] * len(names)
            if meta and have != want:
                raise ValueError(
                    f"rollup {rollup_name!r} exists with spec {have}; "
                    f"got {want} — drop the store or use a new name"
                )
        stream = file_changelog_stream(
            self.spark, changelog_dir, handle.schema
        )
        ckpt = os.path.join(self.workdir, f"ckpt_rollup_{rollup_name}")

        def _apply(batch: DataFrame, batch_id: int) -> None:
            batch = batch.localCheckpoint(eager=True)
            # deletes need the before image just as much as updates:
            # without it the retired row's group is never decremented
            # (silent additive corruption), so both fail the stream
            bad = batch.filter(
                F.col("op").isin("u", "d") & F.col("before").isNull()
            ).count()
            if bad:
                raise ValueError(
                    f"{bad} update/delete event(s) without a before "
                    "image — rollup deltas need REPLICA IDENTITY FULL"
                )

            def image_deltas(side: str, cond, sign: int) -> DataFrame:
                img = batch.filter(cond).select(F.col(f"{side}.*"))
                grps = [
                    F.expr(e) if e is not None else F.col(n)
                    for n, e in zip(names, exprs)
                ]
                return sink.delta_frame(img, grps, sign)

            plus = image_deltas("after", F.col("op") != "d", 1)
            minus = image_deltas("before", F.col("op").isin("u", "d"), -1)
            sink.apply_batch(
                plus.unionByName(minus), batch_id, writer_id=ckpt
            )

        writer = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
        )
        writer = (writer.trigger(availableNow=True) if available_now
                  else writer.trigger(processingTime="5 seconds"))
        query = writer.start()
        self.rollup_queries[rollup_name] = query
        return query

    def _rollup_meta(self, rollup_name: str) -> dict | None:
        import json

        p = os.path.join(self.workdir, f"rollup_{rollup_name}",
                         "_rollup_meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _write_rollup_meta(self, rollup_name: str, sink: RollupSink,
                           table: str, group_expr: str | None) -> None:
        write_json_atomic(os.path.join(sink.path, "_rollup_meta.json"), {
            "group_col": sink.group_col,
            "sum_cols": list(sink.sum_cols),
            "count_cols": list(sink.count_cols),
            "avg_cols": list(sink.avg_cols),
            "minmax_cols": list(sink.minmax_cols),
            "table": table,
            "group_expr": group_expr,
            "aux_num_buckets": sink.aux_num_buckets,
        })

    def _resolve_rollup(self, rollup_name: str) -> "RollupSink | None":
        """In-memory registration, else rehydrate from the persisted
        spec sidecar — a new CdcEngine over an existing workdir must
        find its continuous aggregates (same restart contract as the
        knn-index sidecars)."""
        sink = self.rollups.get(rollup_name)
        if sink is not None:
            return sink
        meta = self._rollup_meta(rollup_name)
        if meta is None:
            return None
        sink = RollupSink(
            path=os.path.join(self.workdir, f"rollup_{rollup_name}"),
            group_col=meta["group_col"],
            sum_cols=tuple(meta["sum_cols"]),
            count_cols=tuple(meta.get("count_cols", ())),
            avg_cols=tuple(meta.get("avg_cols", ())),
            minmax_cols=tuple(meta.get("minmax_cols", ())),
            aux_num_buckets=meta.get("aux_num_buckets", 16),
        )
        self.rollups[rollup_name] = sink
        return sink

    def rollup(self, rollup_name: str) -> DataFrame:
        """Read the current committed state of a continuous aggregate
        (rehydrating the registration from its sidecar if this engine
        instance hasn't touched it yet)."""
        sink = self._resolve_rollup(rollup_name)
        if sink is None:
            raise KeyError(f"unknown rollup {rollup_name!r}")
        return sink.read(self.spark)

    def search_rollup(self, rollup_name: str, body: dict) -> DataFrame:
        """The ``_rollup/_search`` analog: answer a terms /
        date_histogram agg body FROM a continuous aggregate instead of
        the mirror, re-aggregating the stored metrics — doc_count and
        sums/value_counts re-SUM, min/max re-MIN/MAX (each stored
        fine-group extremum is exact, so the coarse extremum is their
        extremum), and avg recomposes as SUM(sum)/SUM(valcnt) — never
        avg-of-avgs. A date_histogram may bucket COARSER than the
        stored granularity (per-month over a per-day rollup: re-trunc
        the stored bucket); requesting a metric the rollup job never
        captured raises, same as the reference API. Scale: the query
        touches #stored-groups rows, never the mirror."""
        sink = self._resolve_rollup(rollup_name)
        if sink is None:
            raise KeyError(f"unknown rollup {rollup_name!r}")
        unknown = sorted(set(body) - {"aggs", "aggregations"})
        if unknown:
            raise ValueError(
                f"rollup search supports only 'aggs', got {unknown}"
            )
        aggs = body.get("aggs", body.get("aggregations")) or {}
        if len(aggs) != 1:
            raise ValueError("rollup search needs exactly one named agg")
        ((agg_name, spec),) = aggs.items()
        kinds = [k for k in ("terms", "date_histogram") if k in spec]
        if len(kinds) != 1:
            raise ValueError(
                "rollup search agg must be 'terms' or 'date_histogram'"
            )
        kind = kinds[0]
        field = spec[kind].get("field")
        if field not in sink._groups:
            raise ValueError(
                f"rollup {rollup_name!r} is grouped by "
                f"{sink._groups}, not {field!r}"
            )
        if kind == "terms":
            bucket = F.col(field)
        else:
            interval = spec[kind].get(
                "calendar_interval", spec[kind].get("fixed_interval")
            )
            if not interval:
                raise ValueError("date_histogram needs calendar_interval")
            bucket = F.date_trunc(interval, F.col(field))
        metric_exprs = []
        for mname, mspec in (spec.get("aggs") or {}).items():
            ((op, opspec),) = mspec.items()
            c = opspec.get("field")
            allowed = {
                "sum": sink.sum_cols, "value_count": sink.count_cols,
                "avg": sink.avg_cols, "min": sink.minmax_cols,
                "max": sink.minmax_cols,
            }
            if op not in allowed:
                raise ValueError(f"unsupported rollup metric {op!r}")
            if c not in allowed[op]:
                raise ValueError(
                    f"rollup {rollup_name!r} does not capture "
                    f"{op}({c}) — stored: {sorted(allowed[op])}"
                )
            expr = {
                "sum": lambda c: F.sum(f"sum_{c}"),
                "value_count": lambda c: F.sum(f"valcnt_{c}"),
                "avg": lambda c: F.sum(f"sum_{c}") / F.sum(f"valcnt_{c}"),
                "min": lambda c: F.min(f"min_{c}"),
                "max": lambda c: F.max(f"max_{c}"),
            }[op](c)
            metric_exprs.append(expr.alias(mname))
        frame = sink.read(self.spark, internal=True)
        out = frame.groupBy(bucket.alias(agg_name)).agg(
            F.sum("doc_count").alias("doc_count"), *metric_exprs
        )
        # ES ordering defaults: terms by doc_count desc (key asc tiebreak),
        # date_histogram by key ascending
        if kind == "terms":
            size = int(spec[kind].get("size", 10))
            return out.orderBy(
                F.col("doc_count").desc(), F.col(agg_name)
            ).limit(size)
        return out.orderBy(agg_name)

    def await_all(self, timeout_s: int = 300) -> None:
        for handle in self.tables.values():
            if handle.query is not None:
                handle.query.awaitTermination(timeout_s)
                handle.query = None
        for name, query in list(self.rollup_queries.items()):
            query.awaitTermination(timeout_s)
            del self.rollup_queries[name]

    # -- query surface -----------------------------------------------------

    def put_alias(self, alias: str, table_names: list[str]) -> None:
        """Index alias (the `_aliases` API): a read name resolving to
        the UNION of member mirrors — the engine-level form of the
        dashboard's index patterns (Q12). Write APIs reject aliases
        (same rule as ES multi-index aliases)."""
        if alias in self.tables:
            raise ValueError(f"{alias!r} is already a table name")
        if not table_names:
            # ES requires at least one index per alias; an empty alias
            # would make view() fail with a bare IndexError later
            raise ValueError(f"alias {alias!r} needs at least one member table")
        missing = [t for t in table_names if t not in self.tables]
        if missing:
            raise ValueError(f"alias {alias!r} references unknown tables {missing}")
        self.aliases[alias] = list(table_names)
        self._save_catalog()

    def delete_alias(self, alias: str) -> None:
        """DELETE ``_aliases`` analog — removal persists like the put."""
        if alias not in self.aliases:
            raise KeyError(f"unknown alias {alias!r}")
        del self.aliases[alias]
        self._save_catalog()

    def delete_monitor(self, monitor_name: str) -> None:
        """Deregister a monitor (its alert LOG stays on disk — history
        outlives the rule, matching the reference plugin)."""
        if monitor_name not in self.monitors:
            raise KeyError(f"unknown monitor {monitor_name!r}")
        del self.monitors[monitor_name]
        self._save_catalog()

    def delete_template(self, template_name: str) -> None:
        """DELETE ``_scripts/<id>`` analog."""
        if template_name not in self.templates:
            raise KeyError(f"unknown template {template_name!r}")
        del self.templates[template_name]
        self._save_catalog()

    def _resolve_write(self, name: str) -> TableHandle:
        if name in self.aliases:
            raise ValueError(
                f"{name!r} is an alias — writes must target a concrete table"
            )
        return self.tables[name]

    def view(self, name: str, version: int | None = None) -> DataFrame:
        """The always-current mirror as a DataFrame (empty before the
        table's first commit). An alias resolves
        to the union of its member mirrors (missing columns
        null-filled — the multi-index dynamic-mapping behavior).
        ``version`` time-travels the mirror to an older committed
        manifest (snapshots are free until vacuum)."""
        if name in self.aliases:
            if version is not None:
                raise ValueError("version applies to a single table, not an alias")
            dfs = [self.view(t) for t in self.aliases[name]]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out
        handle = self.tables[name]
        try:
            return handle.sink.read(self.spark, version=version)
        except FileNotFoundError:
            if version is not None or handle.sink.exists():
                raise
        # registered, nothing committed yet: an index with no documents,
        # typed as its first commit will be
        fields = [T.StructField("op", T.StringType()), *handle.schema.fields]
        if self.seq_col not in handle.schema.fieldNames():
            fields.append(T.StructField(self.seq_col, T.LongType()))
        return self.spark.createDataFrame([], T.StructType(fields))

    def search(self, name: str, body: dict,
               id_col: str | None = None) -> DataFrame:
        """Run an OpenSearch request body (query/aggs/knn/sort/size,
        including ``query_string``) against the always-current mirror —
        the `_search` endpoint of the reference stack, answered by the
        mirror instead of an index (SURVEY §3.3).

        A ``knn`` body uses a registered vector index (put_knn_index)
        when one exists for the field — the OpenSearch knn_vector
        serving path; otherwise (no index, an alias, or a ``query``
        pre-filter, where exact pre-filtered scoring is the correct
        semantics) it scores exactly over the scan."""
        from postgres_opensearch_cdc_spark.dsl import search_frame

        if "pit" in body:
            # point-in-time search: the body pins a committed mirror
            # version (open_pit), so deep pagination walks a STABLE
            # snapshot while writes continue — ES PIT semantics
            # realized by the versioned sink's manifests. The pit id
            # names its table; the index-backed knn route is skipped
            # (the vector index tracks the LIVE mirror), so a pit knn
            # body scores exactly over the pinned scan.
            pit = body["pit"]
            pit_id = pit["id"] if isinstance(pit, dict) else pit
            pname, _, ver = str(pit_id).rpartition(":")
            if pname != name or not ver.isdigit():
                raise ValueError(
                    f"pit id {pit_id!r} does not reference table {name!r}"
                )
            rest = {k: v for k, v in body.items() if k != "pit"}
            return search_frame(
                self.view(name, version=int(ver)), rest,
                id_col=id_col or self.key_col,
            )
        if ("knn" in body and name not in self.aliases
                # the index route serves ONLY the clause set it
                # implements; anything else (query pre-filter,
                # unsupported combos, unknown keys) falls through to
                # the one DSL path, which evaluates exactly or raises —
                # never a silent drop here
                and set(body) <= {"knn", "size", "from",
                                  "track_total_hits"}):
            ((fld, spec),) = body["knn"].items()
            if (name, fld) in self.knn_indexes:
                hits = self._knn_index_search(name, fld, spec)
                frm = int(body.get("from", 0))
                if frm:  # page within the k ranked hits, as the DSL does
                    hits = hits.offset(frm)
                if "size" in body:
                    hits = hits.limit(
                        min(int(spec.get("k", 10)), int(body["size"]))
                    )
                return hits
        return search_frame(self.view(name), body,
                            id_col=id_col or self.key_col)

    def put_knn_index(self, name: str, vec_field: str,
                      cells: int = 8, m: int = 8, nprobe: int = 3,
                      iterations: int = 3, seed: int = 42,
                      files_per_cell: int = 1,
                      centroids: list | None = None,
                      codebook: list | None = None) -> dict:
        """Build (or rebuild — the `_refresh` analog) a persisted IVFPQ
        vector index over the CURRENT mirror — the engine-side
        knn_vector index of the reference stack (OpenSearch k-NN).
        Trains the coarse quantizer (seeded k-means) and PQ codebook
        (seeded per-subspace k-means) on the live rows, materializes
        cell-partitioned M-byte codes under the workdir, and records
        the mirror's sequence high-water mark at build time.

        Staleness contract (the Lucene-segment model, which is how the
        reference index behaves too): queries combine (a) ANN
        candidates from the index — rows as of the build — with (b) an
        EXACT scan of the delta (rows whose seq is above the build
        high-water mark: every insert AND update since, because the
        merge bumps seq), then rerank everything against LIVE vectors
        and keys, so deletes never return, updated vectors score with
        their current values, and new rows are always visible. Only
        rows untouched since the build go through the approximate
        path — refresh cadence bounds recall, never correctness of
        what IS returned. Rebuild cost is one scan + one clustered
        write (ivfpq_index_build); production refreshes on a timer or
        version delta, exactly like index refresh intervals."""
        from postgres_opensearch_cdc_spark.functions.similarity import (
            ivfpq_index_build,
            kmeans_train,
            pq_train,
        )

        handle = self._resolve_write(name)
        # hwm FIRST: a concurrent stream batch committed while the
        # build's corpus scans run gets seq > this mark and lands in
        # the exact delta even though it may also be in the index —
        # the union+distinct in _knn_index_search absorbs the overlap.
        # Reading it after the build would invert the race: rows with
        # seq <= built_hwm but absent from the index would be
        # invisible until the next rebuild.
        hwm = self._seq_high_water(name)
        live = self.view(name)
        vectors = live.select(
            F.col(self.key_col).alias("vec_id"),
            F.col(vec_field).alias("embedding"),
        ).filter(F.col("embedding").isNotNull())
        # explicit centroids/codebook support frozen-quantizer setups
        # (and the engine-portable oracle entry); training is the
        # production default
        if centroids is None:
            centroids = kmeans_train(
                vectors, k=cells, iterations=iterations, seed=seed
            )
        if codebook is None:
            codebook = pq_train(
                vectors, m=m, k=min(16, cells * 2), iterations=iterations,
                seed=seed,
            )
        cells = len(centroids)
        path = os.path.join(self.workdir, f"knn_{name}_{vec_field}")
        ivfpq_index_build(
            vectors, path, centroids=centroids, codebook=codebook,
            files_per_cell=files_per_cell,
        )
        meta = {
            "path": path, "nprobe": int(nprobe), "cells": int(cells),
            "built_hwm": hwm if hwm is not None else -1,
            "vec_field": vec_field,
        }
        write_json_atomic(os.path.join(path, "_knn_meta.json"), meta)
        self.knn_indexes[(name, vec_field)] = meta
        return meta

    def _knn_index_search(self, name: str, vec_field: str,
                          spec: dict) -> DataFrame:
        """Two-phase index-backed knn (see put_knn_index): ANN
        candidate ids from the persisted codes (num_candidates, the
        OpenSearch knob) UNION the exact seq-delta ids, then one exact
        cosine rerank over live vectors restricted to those keys —
        a broadcast semi-join, never a full-corpus score."""
        from postgres_opensearch_cdc_spark.functions.similarity import (
            brute_force_topk,
            ivfpq_index_topk,
        )

        meta = self.knn_indexes[(name, vec_field)]
        qv = [float(x) for x in spec["query_vector"]]
        k = int(spec.get("k", 10))
        num_candidates = int(spec.get("num_candidates", max(50, k)))
        cand = ivfpq_index_topk(
            self.spark, meta["path"], qv,
            nprobe=meta["nprobe"], k=num_candidates, id_col="vec_id",
        ).select(F.col("vec_id").alias(self.key_col))
        live = self.view(name)
        delta = live.filter(
            F.col(self.seq_col) > F.lit(meta["built_hwm"])
        ).select(self.key_col)
        ids = cand.unionByName(delta).distinct()
        return brute_force_topk(
            live.join(F.broadcast(ids), self.key_col, "left_semi"),
            qv, k=k, id_col=self.key_col, vec_col=vec_field,
        )

    def query_string(self, name: str, qs: str,
                     default_field: str | None = None,
                     default_operator: str = "OR", size: int | None = None,
                     ) -> DataFrame:
        """The Dashboards search-bar line against a mirror:
        ``engine.query_string("card", "status:ACTIVE AND card_type:DEBIT")``
        — parsed by querystring.py, filtered mirror rows back."""
        body: dict = {"query": {"query_string": {
            "query": qs,
            "default_field": default_field,
            "default_operator": default_operator,
        }}}
        if size is not None:
            body["size"] = size
        return self.search(name, body)

    def sql(self, query: str) -> DataFrame:
        """The SQL-plugin analog (`_plugins/_sql`): run a SQL query
        whose table names are registered mirrors or aliases — each is
        exposed as a temp view over its ALWAYS-CURRENT state at call
        time, so `engine.sql("SELECT status, count(*) FROM card GROUP
        BY 1")` is the reference stack's SQL endpoint answered by the
        mirror. Catalyst compiles it into the same plans as the other
        interfaces (pushdown, partial aggs, TakeOrderedAndProject)."""
        for t in self.tables:
            self.view(t).createOrReplaceTempView(t)
        for a in self.aliases:
            self.view(a).createOrReplaceTempView(a)
        return self.spark.sql(query)

    def put_template(self, template_name: str, source: dict) -> None:
        """Store a search template (`_scripts/<id>` with a mustache
        source): a request body whose values may carry ``{{param}}``
        placeholders — whole-value placeholders substitute the param
        VERBATIM (numbers stay numbers, lists stay lists), embedded
        ones interpolate into the string."""
        import re as _re

        params = set()

        def scan(node):
            if isinstance(node, dict):
                for k, v in node.items():
                    scan(k), scan(v)
            elif isinstance(node, list):
                for v in node:
                    scan(v)
            elif isinstance(node, str):
                params.update(_re.findall(r"\{\{(\w+)\}\}", node))

        scan(source)
        self.templates[template_name] = {
            "source": source, "params": sorted(params),
        }
        self._save_catalog()

    def search_template(self, name: str, template_name: str,
                        params: dict) -> DataFrame:
        """Render a stored template with ``params`` and run it as a
        search. Strict on BOTH sides: every placeholder must be
        provided and every provided param must be used — a typoed
        param name degrades loudly, never into a half-rendered body."""
        import re as _re

        tpl = self.templates[template_name]
        declared = set(tpl["params"])
        missing = sorted(declared - set(params))
        unused = sorted(set(params) - declared)
        if missing or unused:
            raise ValueError(
                f"template {template_name!r}: missing params {missing}, "
                f"unknown params {unused} (declared: {tpl['params']})"
            )

        def render(node):
            if isinstance(node, dict):
                return {k: render(v) for k, v in node.items()}
            if isinstance(node, list):
                return [render(v) for v in node]
            if isinstance(node, str):
                whole = _re.fullmatch(r"\{\{(\w+)\}\}", node)
                if whole:  # verbatim: numbers/lists keep their type
                    return params[whole.group(1)]
                return _re.sub(
                    r"\{\{(\w+)\}\}",
                    lambda m: str(params[m.group(1)]), node,
                )
            return node

        return self.search(name, render(tpl["source"]))

    def ppl(self, query: str) -> DataFrame:
        """Run a PPL pipeline whose ``source=`` (and join/lookup right
        sides) name registered mirrors — the Dashboards PPL tab served
        by the always-current mirror."""
        from postgres_opensearch_cdc_spark.ppl import ppl as ppl_compile

        return ppl_compile(self.spark, "", query, resolver=self.view)

    def scan(self, name: str, page_size: int = 1000,
             sort: list | None = None, query: dict | None = None):
        """Deep-pagination export (the scroll / ``helpers.scan`` flow):
        yields hit pages walked with search_after keyset cursors, so
        every page compiles to a scan-pushed lexicographic predicate +
        TakeOrderedAndProject — constant driver state, no global sort,
        no offset re-scan; the mirror-size-independent way to stream a
        100 TB mirror out page by page. ``sort`` defaults to the key
        column ascending (must be a unique total order for a complete
        walk)."""
        sort = sort or [{self.key_col: {"order": "asc"}}]
        sort_fields = [next(iter(s)) for s in sort]
        body: dict = {"sort": sort, "size": int(page_size)}
        if query is not None:
            body["query"] = query
        cursor = None
        while True:
            page_body = dict(body)
            if cursor is not None:
                page_body["search_after"] = cursor
            rows = self.search(name, page_body).collect()
            if not rows:
                return
            yield rows
            if len(rows) < page_size:
                return
            cursor = [rows[-1][f] for f in sort_fields]

    def reindex(self, src: str, dst: str,
                query: dict | None = None,
                script: dict | None = None) -> int:
        """The reference stack's ``_reindex``: copy a (optionally
        query-filtered) mirror into a new table — registered on the
        fly with the source schema — as one snapshot backfill through
        the keyed merge, so re-running is idempotent. Returns the
        destination row count. At scale this is a single filtered
        scan + partitioned merge write; no driver-side row movement.

        ``script`` is the ``_reindex`` script clause in this engine's
        declarative form: {column: SQL expression over the source
        row}, compiled by F.expr instead of interpreted painless —
        stays inside whole-stage codegen. Strict like the rest of the
        engine: scripted columns must be schema fields (the explicit-
        schema stance — scripts can't invent fields), expressions are
        parsed eagerly so a typo fails the call rather than the job,
        and results cast to the registered column type."""
        src_handle = self.tables[src]
        fields = {f.name: f.dataType for f in src_handle.schema.fields}
        if script:
            unknown = sorted(set(script) - set(fields))
            if unknown:
                raise ValueError(
                    f"script targets unknown fields {unknown} "
                    f"(schema: {sorted(fields)})"
                )
            for c, expr in script.items():
                try:
                    self.spark._jsparkSession.sessionState().sqlParser(
                    ).parseExpression(expr)
                except Exception as exc:
                    raise ValueError(
                        f"script for {c!r} does not parse: {expr!r}"
                    ) from exc
        if dst not in self.tables:
            self.register_table(dst, src_handle.schema)
        df = self.view(src)
        if query is not None:
            from postgres_opensearch_cdc_spark.dsl import compile_query

            df = df.filter(compile_query(query, id_col=self.key_col))
        out_cols = [
            (F.expr(script[n]).cast(t) if script and n in script
             else F.col(n)).alias(n)
            for n, t in fields.items()
        ]
        self.backfill(dst, df.select(*out_cols))
        return self.view(dst).count()

    def count(self, name: str, query: dict | None = None) -> int:
        """The ``_count`` endpoint: filtered live-row count of the
        mirror (compiles to a pushed-filter scan + count aggregate)."""
        df = self.view(name)
        if query is not None:
            from postgres_opensearch_cdc_spark.dsl import compile_query

            df = df.filter(compile_query(query, id_col=self.key_col))
        return df.count()

    def mget(self, name: str, ids: list) -> DataFrame:
        """The ``_mget`` endpoint: point lookups by key list — an IN
        filter pushed to the mirror scan (row-group-pruned on an
        id-clustered layout)."""
        return self.view(name).filter(F.col(self.key_col).isin(list(ids)))

    def _seq_high_water(self, name: str):
        """Max sequence value EVER merged into the mirror — including
        deletes, which are applied but not retained. Each commit
        manifest records it (the durable form). A seq type JSON cannot
        store (e.g. a timestamp) leaves no mark, and the fallback is
        max(seq) over LIVE rows, which can sit below an already-consumed
        stream offset after a high-seq delete."""
        handle = self.tables[name]
        manifest = handle.sink.latest_manifest()
        if manifest is not None:
            hwm = (manifest.get("max_seq") or {}).get(self.seq_col)
            if hwm is not None:
                return hwm
        if handle.sink.exists():
            return self.view(name).agg(F.max(self.seq_col)).head()[0]
        return None

    def bulk(self, name: str, actions: list, batch_id: int = -1) -> dict:
        """The ``_bulk`` endpoint (reference W3): a mixed list of
        ``{"index": {<full doc incl key>}}`` / ``{"delete": {<key>:
        v}}`` applied as ONE keyed merge. Later actions on the same
        key win (ES bulk ordering): each action gets an
        engine-allocated sequence number (ES assigns seq_no
        server-side the same way; a seq value in the action body is
        ignored) above the mirror's sequence HIGH-WATER MARK — the max
        seq ever merged, not max over live rows, so a bulk write after
        a high-seq delete still lands above every consumed stream
        offset and an at-least-once replayed stream batch cannot
        silently override it. Returns per-op counts."""
        handle = self._resolve_write(name)
        op_col = handle.sink.op_col
        hwm = self._seq_high_water(name)
        base = (hwm if hwm is not None else -1) + 1
        field_names = [f.name for f in handle.schema.fields]
        # the seq column may itself be a registered schema field (the
        # engine_search_mirror style) — fill it in place, never append
        # a duplicate column
        fields = [T.StructField(op_col, T.StringType())] + list(handle.schema.fields)
        if self.seq_col not in field_names:
            fields.append(T.StructField(self.seq_col, T.LongType()))
        row_schema = T.StructType(fields)

        def _row(op, values, seq):
            vals = [
                seq if f == self.seq_col else values.get(f) for f in field_names
            ]
            if self.seq_col not in field_names:
                vals.append(seq)
            return (op, *vals)

        rows, counts = [], {"index": 0, "delete": 0}
        for i, action in enumerate(actions):
            ((op, body),) = action.items()
            if op == "index":
                rows.append(_row("u", body, base + i))
                counts["index"] += 1
            elif op == "delete":
                key = body[self.key_col] if isinstance(body, dict) else body
                rows.append(_row("d", {self.key_col: key}, base + i))
                counts["delete"] += 1
            else:
                raise ValueError(f"unknown bulk action {op!r}")
        if rows:
            handle.sink.apply_batch(
                self.spark.createDataFrame(rows, row_schema), batch_id
            )
        return counts

    def delete_by_query(self, name: str, query: dict) -> int:
        """The reference stack's ``_delete_by_query``: matching mirror
        rows are re-emitted as op='d' changes THROUGH THE KEYED MERGE
        (never a rewrite-in-place), so the operation composes with
        concurrent stream batches, stays idempotent under replay (the
        deletes carry each row's own sequence; a batch row beats the
        mirrored row at equal seq), and costs one partition-pruned
        merge. Returns the number of rows deleted."""
        from postgres_opensearch_cdc_spark.dsl import compile_query

        handle = self._resolve_write(name)
        op_col = handle.sink.op_col
        matched = self.view(name).filter(
            compile_query(query, id_col=self.key_col)
        )
        batch = matched.select(
            F.lit("d").alias(op_col),
            *[c for c in matched.columns if c != op_col],
        )
        n = batch.count()
        if n:
            handle.sink.apply_batch(batch, batch_id=-1)
        return n

    def update_by_query(self, name: str, query: dict,
                        assignments: dict) -> int:
        """The ``_update_by_query`` analog: matching rows re-emitted as
        op='u' changes with the assignments applied, merged back
        through the same keyed path as delete_by_query. Assignment
        values are LITERALS (plain strings stay strings); computed
        updates pass a Column, or ``{"script": "<sql expr>"}`` — the
        painless-script analog, compiled by F.expr into scan-stage
        codegen instead of being interpreted per doc. Returns the
        number of rows updated."""
        from pyspark.sql import Column

        from postgres_opensearch_cdc_spark.dsl import compile_query

        handle = self._resolve_write(name)
        op_col = handle.sink.op_col
        matched = self.view(name).filter(
            compile_query(query, id_col=self.key_col)
        )
        for col, val in assignments.items():
            if isinstance(val, Column):
                expr = val
            elif isinstance(val, dict) and set(val) == {"script"}:
                expr = F.expr(val["script"])
            else:
                expr = F.lit(val)
            matched = matched.withColumn(col, expr)
        batch = matched.select(
            F.lit("u").alias(op_col),
            *[c for c in matched.columns if c != op_col],
        )
        n = batch.count()
        if n:
            handle.sink.apply_batch(batch, batch_id=-1)
        return n

    def terms_enum(self, name: str, field: str, prefix: str = "",
                   size: int = 10, case_insensitive: bool = True
                   ) -> list[str]:
        """The `_terms_enum` endpoint (index-time autocomplete): the
        first ``size`` distinct live values of ``field`` matching the
        prefix, in sorted order. Compiles to a pushed StartsWith
        filter + distinct + TakeOrderedAndProject over the mirror —
        never a full-field collect."""
        col = F.col(field)
        pfx = prefix
        if case_insensitive:
            col, pfx = F.lower(col), prefix.lower()
        df = self.view(name).select(col.alias("term")).filter(
            F.col("term").startswith(pfx) if pfx else F.col("term").isNotNull()
        )
        return [
            r["term"]
            for r in df.distinct().orderBy("term").limit(int(size)).collect()
        ]

    def analyze(self, text: str, tokenizer: str = "whitespace",
                filters=(("lowercase",),)) -> list[dict]:
        """The `_analyze` endpoint: run an analyzer chain over a
        constant string and return the token stream — the same chains
        the full-text operators use (functions/analysis.py), in the ES
        response shape ({token, position})."""
        from postgres_opensearch_cdc_spark.functions.analysis import (
            analyze_text,
        )

        return [
            {"token": t, "position": i}
            for i, t in enumerate(
                analyze_text(text, tokenizer=tokenizer, filters=filters)
            )
        ]

    def open_pit(self, name: str) -> dict:
        """The point-in-time API (`_pit`): pin the mirror's CURRENT
        committed version so later searches page against a stable
        snapshot while writes continue. Free until vacuum (the
        versioned sink keeps old manifests); a vacuumed pit fails its
        next search with FileNotFoundError — the ES pit-expired
        analog. Returns {"id": "<table>:<version>"}; put it in the
        request body as {"pit": {"id": ...}}."""
        handle = self.tables[name]  # aliases/unknown raise KeyError
        manifest = handle.sink.latest_manifest()
        if manifest is None:
            raise ValueError(f"table {name!r} has no committed version yet")
        return {"id": f"{name}:{manifest['version']}"}

    def validate(self, name: str, body: dict) -> dict:
        """The `_validate/query` analog: compile and ANALYZE the
        request body against the mirror without executing it —
        catches unknown body keys, malformed query nodes, and
        unresolvable columns. Returns {"valid": True} or
        {"valid": False, "error": <message>}."""
        try:
            _ = self.search(name, body).schema  # forces analysis
            return {"valid": True}
        except Exception as exc:
            return {"valid": False, "error": str(exc)}

    def field_caps(self, pattern: str) -> dict:
        """The `_field_caps` endpoint — what the reference's Dashboards
        calls when creating an index pattern (DASHBOARD_GUIDE.md:19-24):
        field → {type | 'conflict', per-type index lists} across every
        table matching the glob pattern (aliases resolve to their
        members)."""
        import fnmatch

        if pattern in self.aliases:
            names = list(self.aliases[pattern])
        else:
            names = sorted(
                t for t in self.tables if fnmatch.fnmatch(t, pattern)
            )
        if not names:
            raise ValueError(f"no tables match pattern {pattern!r}")
        fields: dict = {}
        for t in names:
            for f in self.tables[t].schema.fields:
                by_type = fields.setdefault(f.name, {})
                by_type.setdefault(
                    f.dataType.simpleString(), []
                ).append(t)
        return {
            "indices": names,
            "fields": {
                fname: {
                    "type": (next(iter(by_type))
                             if len(by_type) == 1 else "conflict"),
                    "types": {ty: sorted(ts) for ty, ts in by_type.items()},
                }
                for fname, by_type in sorted(fields.items())
            },
        }

    def put_monitor(self, monitor_name: str, table: str, body: dict,
                    condition: str) -> None:
        """The Alerting-plugin monitor shape (the dashboard guide's
        "set up alerts for specific conditions" tip): a registered
        search ``body`` over a mirror plus a ``condition`` — a SQL
        predicate over the body's RESULT frame (the painless
        ``ctx.results[...]`` analog, compiled by F.expr instead of
        interpreted per evaluation). A monitor fires when any result
        row satisfies the condition; the firing rows are appended to
        the monitor's alert log (``alerts(name)``), stamped with the
        evaluating batch id.

        Evaluation cadence: every micro-batch of a later
        ``start_stream`` on the monitored table evaluates its monitors
        right after the merge commits (the per-interval scheduler of
        the reference plugin, driven by the stream instead of a cron),
        and ``evaluate_monitors()`` runs them on demand. The alert
        log is EXACTLY-ONCE under batch replay: each evaluation
        commits through a (writer, batch_id) manifest (see
        _evaluate_monitor), so a replayed micro-batch cannot
        duplicate alert rows."""
        if table not in self.tables and table not in self.aliases:
            raise ValueError(
                f"monitor targets unknown table/alias {table!r}"
            )
        # fail fast on an unparseable condition, not at first
        # evaluation (F.expr defers parsing, so drive the parser)
        try:
            self.spark._jsparkSession.sessionState().sqlParser(
            ).parseExpression(condition)
        except Exception as exc:
            raise ValueError(
                f"monitor condition does not parse: {condition!r}"
            ) from exc
        self.monitors[monitor_name] = {
            "table": table, "body": body, "condition": condition,
        }
        self._save_catalog()

    def evaluate_monitors(self, table: str | None = None,
                          batch_id: int = -1) -> dict:
        """Run registered monitors (optionally only those on ``table``)
        against the CURRENT mirror; append firing rows to each
        monitor's alert log. Returns {monitor_name: fired_row_count}.
        On-demand evaluations (the default batch_id=-1) are each a
        fresh evaluation and always log."""
        return {
            mname: self._evaluate_monitor(mname, batch_id)
            for mname, spec in self.monitors.items()
            if table is None or spec["table"] == table
        }

    def _alert_row(self, mname: str, frame: DataFrame,
                   batch_id: int) -> DataFrame:
        """Stamp (monitor, batch_id) onto a result frame; a result
        column that already uses either name is renamed result_<col>
        so the log never carries duplicate column names."""
        renamed = frame
        for c in frame.columns:
            if c in ("monitor", "batch_id"):
                if f"result_{c}" in frame.columns:
                    raise ValueError(
                        f"monitor {mname!r}: result columns {c!r} and "
                        f"'result_{c}' both present — rename one in the body"
                    )
                renamed = renamed.withColumnRenamed(c, f"result_{c}")
        return renamed.select(
            F.lit(mname).alias("monitor"),
            F.lit(int(batch_id)).alias("batch_id"),
            *[F.col(c) for c in renamed.columns],
        )

    def _evaluate_monitor(self, mname: str, batch_id: int,
                          writer_id: str | None = None) -> int:
        """One evaluation → one committed log entry. The log uses the
        same commit-manifest protocol as the mirror/rollup sinks:
        firing rows land in a fresh data dir, then ONE atomic manifest
        rename publishes them — so a replayed micro-batch (same
        writer_id + batch_id) is skipped whole and a crash between
        data write and manifest leaves nothing visible. This upgrades
        the alert log from at-least-once-with-dedup-key to
        exactly-once, matching the span store."""
        import hashlib
        import json
        import shutil
        import uuid

        from pyspark.sql import Observation

        spec = self.monitors[mname]
        base = os.path.join(self.workdir, f"alerts_{mname}")
        commits_dir = os.path.join(base, "_commits")
        if batch_id >= 0:
            # a REAL batch id is an exactly-once key even without a
            # writer_id: derive a stable manifest name so a caller-side
            # replay of evaluate_monitors(table, batch_id=N) is skipped
            # instead of duplicating alert rows (each monitor has its
            # own commits dir, so mname needn't be part of the key)
            tag = (hashlib.sha256(writer_id.encode()).hexdigest()[:12]
                   if writer_id is not None else "adhoc")
            manifest_path = os.path.join(commits_dir, f"w{tag}-b{batch_id}.json")
            if os.path.exists(manifest_path):  # replayed batch
                with open(manifest_path) as fh:
                    return json.load(fh)["count"]
        else:
            manifest_path = os.path.join(
                commits_dir, f"ondemand-{uuid.uuid4().hex[:12]}.json"
            )
        result = self.search(spec["table"], spec["body"])
        hits = result.filter(F.expr(spec["condition"]))
        out = self._alert_row(mname, hits, batch_id)
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        data_dir = os.path.join(base, "data", commit)
        if self._monitor_fired.get(mname):
            # the last evaluation fired, so this one likely fires too:
            # one pass, the write counting its own rows. A miss costs
            # the write of an empty dir, which no manifest references,
            # and its removal.
            obs = Observation()
            out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(data_dir)
            n = observed_metrics(obs).get("n", 0)
            if not n:
                shutil.rmtree(data_dir)
        else:
            # first evaluation here, or the last one did not fire (an
            # alert's common case): count first, and write only on a
            # hit — a count is cheaper than an empty write plus delete
            n = out.count()
            if n:
                out.write.mode("overwrite").parquet(data_dir)
        self._monitor_fired[mname] = bool(n)
        write_json_atomic(manifest_path, {  # the commit point
            "count": n, "commit": commit if n else None,
            "batch_id": batch_id, "writer_id": writer_id,
        })
        return n

    def _alert_manifests(self, monitor_name: str) -> list[dict]:
        """The committed evaluation manifests of a monitor's alert log,
        in name order (a crashed evaluation's temp file is skipped)."""
        import json

        commits_dir = os.path.join(
            self.workdir, f"alerts_{monitor_name}", "_commits"
        )
        if not os.path.isdir(commits_dir):
            return []
        out = []
        for name in sorted(os.listdir(commits_dir)):
            if name.startswith(".") or not name.endswith(".json"):
                continue
            with open(os.path.join(commits_dir, name)) as fh:
                out.append(json.load(fh))
        return out

    def alerts(self, monitor_name: str) -> DataFrame:
        """The alert log of a monitor: the union of its COMMITTED
        evaluation entries (uncommitted data dirs from a crashed
        evaluation are invisible). Empty frame if it never fired."""
        if monitor_name not in self.monitors:
            raise KeyError(f"unknown monitor {monitor_name!r}")
        data = os.path.join(self.workdir, f"alerts_{monitor_name}", "data")
        dirs = [
            os.path.join(data, m["commit"])
            for m in self._alert_manifests(monitor_name) if m["commit"]
        ]
        # the log's schema is the monitor's result row shape: building
        # it plans the search but runs no job, so neither does the read
        spec = self.monitors[monitor_name]
        empty = self._alert_row(
            monitor_name,
            self.search(spec["table"], spec["body"]).filter(F.lit(False)),
            -1,
        )
        if not dirs:
            return empty
        return read_parquet_dirs(self.spark, empty.schema, dirs)

    def update(self, name: str, key, doc: dict,
               doc_as_upsert: bool = False) -> dict:
        """The ``_update`` endpoint (partial document update): merge
        ``doc``'s fields into the current document for ``key``. Fields
        not in the registered schema are rejected (the engine's
        explicit-schema stance); a missing document raises unless
        ``doc_as_upsert`` (ES's flag of the same name); an update that
        changes nothing is reported as a noop without writing (ES's
        default detect_noop=true). The write is ONE keyed bulk merge
        with an engine-allocated seq above the high-water mark, so it
        composes with concurrent streams like any other write.
        Returns {"result": "updated" | "created" | "noop"}."""
        handle = self._resolve_write(name)
        fields = [f.name for f in handle.schema.fields]
        unknown = sorted(set(doc) - set(fields))
        if unknown:
            raise ValueError(
                f"unknown field(s) {unknown} for table {name!r} "
                f"(schema: {fields})"
            )
        if self.key_col in doc and doc[self.key_col] != key:
            raise ValueError(
                f"doc carries {self.key_col}={doc[self.key_col]!r} but "
                f"targets key {key!r}"
            )
        rows = self.mget(name, [key]).collect() if handle.sink.exists() else []
        if not rows:
            if not doc_as_upsert:
                raise KeyError(f"document {key!r} not found in {name!r}")
            merged = {**{f: None for f in fields}, **doc,
                      self.key_col: key}
            self.bulk(name, [{"index": merged}])
            return {"result": "created"}
        current = {f: rows[0][f] for f in fields}
        merged = {**current, **doc, self.key_col: key}
        if merged == current:
            return {"result": "noop"}
        self.bulk(name, [{"index": merged}])
        return {"result": "updated"}

    def msearch(self, name: str, bodies: list) -> list:
        """Multi-search: one DataFrame per request body (the ES
        `_msearch` bulk endpoint). Plans are independent; callers can
        collect them concurrently — Spark schedules the jobs in
        parallel within the session."""
        return [self.search(name, b) for b in bodies]

    def explain(self, name: str, body: dict) -> str:
        """The `_explain`/profile analog: the formatted physical plan
        a request body compiles to against the mirror — pushdown,
        exchanges, and codegen spans, for query debugging."""
        df = self.search(name, body)
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )

    def snapshot(self, name: str, dest: str,
                 version: int | None = None) -> dict:
        """DR export (the reference stack's automated snapshots /
        restore-from-snapshot, backup TDD :1363-1370): write a
        CONSISTENT committed version of a mirror as a STANDALONE copy
        — parquet rows (op + seq columns included, so they re-apply
        through the keyed merge on restore) plus a snapshot.json
        carrying the registered schema, source version, and the
        sequence high-water mark.

        Vacuum interplay, defined: time-travel reads (``view(name,
        version=N)``) live only until ``vacuum`` drops version N —
        they are retention-bounded; an exported snapshot is a
        separate copy and survives source vacuum indefinitely. So the
        DR flow is snapshot-then-vacuum, and snapshot(version=N)
        raises FileNotFoundError (listing what IS available) once N
        has been vacuumed.

        This is a logical export: one pushed-down scan of the chosen
        version → one parquet write, fully distributed. A production
        variant on object storage can instead file-copy the immutable
        commit files listed in the version's manifest (no
        decode/re-encode); the manifest protocol supports either.
        Returns the snapshot.json contents."""
        import json

        handle = self.tables[name]
        df = self.view(name, version=version)
        df.write.parquet(os.path.join(dest, "data"))
        manifest = handle.sink.manifest(version)
        info = {
            "source_table": name,
            "source_version": manifest["version"],
            "max_seq": manifest.get("max_seq") or {},
            "key_col": self.key_col,
            "seq_col": self.seq_col,
            "registered_schema": json.loads(handle.schema.json()),
        }
        write_json_atomic(os.path.join(dest, "snapshot.json"), info)
        return info

    def restore(self, path: str, as_name: str) -> TableHandle:
        """Restore a snapshot() export into a FRESH mirror under
        ``as_name``: rows re-apply through the keyed merge with their
        ORIGINAL op/seq values (so the restored mirror composes with
        replayed streams exactly like the source did at the snapshot
        version), and the source's sequence high-water mark is carried
        into the new mirror's manifest — a bulk write or at-least-once
        replay against the restored table still ranks above every
        offset the source had consumed."""
        import json

        with open(os.path.join(path, "snapshot.json")) as fh:
            info = json.load(fh)
        if as_name in self.tables or as_name in self.aliases:
            raise ValueError(f"{as_name!r} already exists — restore "
                             "targets a fresh table name")
        if info["key_col"] != self.key_col or info["seq_col"] != self.seq_col:
            raise ValueError(
                f"snapshot was taken with key/seq columns "
                f"({info['key_col']!r}, {info['seq_col']!r}); this engine "
                f"uses ({self.key_col!r}, {self.seq_col!r})"
            )
        schema = T.StructType.fromJson(info["registered_schema"])
        handle = self.register_table(as_name, schema)
        rows = self.spark.read.parquet(os.path.join(path, "data"))
        handle.sink.apply_batch(rows, batch_id=-1)
        if info["max_seq"]:
            handle.sink.raise_high_water(info["max_seq"])
        return handle

    def register_sql_views(self) -> None:
        """Expose every mirror as `<name>_mirror` for spark.sql — the
        engine's Dashboards/DSL analog is plain SQL (SURVEY §3.3)."""
        for name, handle in self.tables.items():
            if handle.sink.exists():
                self.view(name).createOrReplaceTempView(f"{name}_mirror")
        for alias, members in self.aliases.items():
            if all(self.tables[t].sink.exists() for t in members):
                self.view(alias).createOrReplaceTempView(f"{alias}_mirror")

    def counts(self) -> dict[str, int]:
        """test.sh:29-38 count-parity probe, engine-side."""
        return {
            name: self.view(name).count()
            for name, handle in self.tables.items()
            if handle.sink.exists()
        }

    def alert_counts(self) -> dict[str, int]:
        """``_cat``-style counts over the alert logs: committed
        firing-row count per registered monitor, straight from the
        commit manifests (each records its evaluation's row count, so
        this is a metadata read — no data files are opened; an
        uncommitted crashed evaluation is invisible, exactly like
        ``alerts()``)."""
        return {
            mname: sum(m["count"] for m in self._alert_manifests(mname))
            for mname in sorted(self.monitors)
        }

    def cat_indices(self) -> list[dict]:
        """The ``_cat/indices`` analog: one row per mirror with live
        doc count, bytes on disk (live data files only, as the
        manifest records them — old un-vacuumed commits excluded,
        matching the 'primary store size' reading), committed
        version, and the sequence high-water mark. Aliases are listed with their
        member resolution, like ES's alias cat endpoint."""
        out = []
        for name, handle in sorted(self.tables.items()):
            if not handle.sink.exists():
                out.append({"index": name, "status": "empty",
                            "docs_count": 0, "store_bytes": 0,
                            "version": None, "max_seq": None})
                continue
            row: dict = {"index": name, "status": "open",
                         "docs_count": self.view(name).count()}
            manifest = handle.sink.latest_manifest()
            row["store_bytes"] = sum(handle.sink.bucket_bytes(manifest).values())
            row["version"] = manifest["version"]
            row["max_seq"] = (manifest.get("max_seq") or {}).get(self.seq_col)
            out.append(row)
        for alias, members in sorted(self.aliases.items()):
            out.append({"index": alias, "status": "alias",
                        "docs_count": sum(
                            self.view(t).count() for t in members
                            if self.tables[t].sink.exists()
                        ),
                        "members": list(members)})
        return out
