"""CdcEngine end-to-end: the reference user's full lifecycle — register,
backfill, stream, query via SQL — in one flow."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from postgres_opensearch_cdc_spark.engine import CdcEngine

CARD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("card_type", T.StringType()),
    ]
)


def envelope(op, rid, status, ctype, offset):
    body = {"id": rid, "status": status, "card_type": ctype}
    return json.dumps(
        {
            "op": op,
            "before": body if op == "d" else None,
            "after": None if op == "d" else body,
            "ts_ms": 1000 + offset,
            "source": {"schema": "public", "table": "card", "lsn": offset},
            "offset": offset,
        }
    )


import pytest


def test_full_lifecycle(spark, tmp_path):
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)

    # snapshot: 3 cards
    snap = spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT"), (3, "BLOCKED", "DEBIT")],
        CARD_SCHEMA,
    )
    engine.backfill("card", snap)
    assert engine.counts() == {"card": 3}

    # stream: update 1, delete 2, insert 4
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(
            "\n".join(
                [
                    envelope("u", 1, "BLOCKED", "DEBIT", 10),
                    envelope("d", 2, None, None, 11),
                    envelope("c", 4, "ACTIVE", "DEBIT", 12),
                ]
            )
        )
    engine.start_stream("card", log_dir)
    engine.await_all()

    # query through SQL — the dashboard surface
    engine.register_sql_views()
    dist = {
        r["status"]: r["cnt"]
        for r in spark.sql(
            "SELECT status, count(*) AS cnt FROM card_mirror GROUP BY status"
        ).collect()
    }
    assert dist == {"BLOCKED": 2, "ACTIVE": 1}
    assert engine.counts() == {"card": 3}  # 3 - 1 delete + 1 insert

    rows = {r["id"]: r["status"] for r in engine.view("card").collect()}
    assert rows == {1: "BLOCKED", 3: "BLOCKED", 4: "ACTIVE"}


def test_default_engine_merge_is_partition_pruned(spark, tmp_path, open_cost_bytes):
    """The façade's DEFAULT sink must be the scale-safe one: a one-key
    batch against a populated mirror may only write the touched bucket —
    every pre-existing data file stays byte-identical (the O(|batch| +
    touched-buckets), not O(|mirror|), merge-cost contract).

    The bucket count follows the mirror's bytes, so at the default
    target (4 MB per bucket) 500 rows are one bucket; the mirror is
    grown past one bucket under a 1 kB target, and the default is back
    for the stream commit (the count never shrinks)."""
    import glob
    import hashlib

    from postgres_opensearch_cdc_spark.streaming.apply import VersionedMirrorSink

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    sink = engine.tables["card"].sink
    assert isinstance(sink, VersionedMirrorSink)

    snap = spark.createDataFrame(
        [(i, "ACTIVE", "DEBIT") for i in range(500)], CARD_SCHEMA
    )
    engine.backfill("card", snap)
    assert len(sink.latest_manifest()["buckets"]) == 1
    with open_cost_bytes(1024):
        # a second backfill re-buckets the whole mirror under the small
        # target (its rows are unchanged: a batch row wins equal seqs)
        engine.backfill("card", snap)
    assert len(sink.latest_manifest()["buckets"]) > 1

    def hashes():
        out = {}
        for f in glob.glob(
            os.path.join(str(tmp_path), "mirror_card", "data", "**", "*.parquet"),
            recursive=True,
        ):
            with open(f, "rb") as fh:
                out[f] = hashlib.md5(fh.read()).hexdigest()
        return out

    before = hashes()
    assert len(before) > 1, "mirror should span multiple bucket files"

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(envelope("u", 7, "BLOCKED", "DEBIT", 10))
    engine.start_stream("card", log_dir)
    engine.await_all()

    after = hashes()
    for f, h in before.items():
        assert after[f] == h, f"untouched mirror file rewritten: {f}"
    # the merge added at most one bucket's worth of new files
    new_files = set(after) - set(before)
    new_buckets = {f.rsplit("_bucket=", 1)[1].split(os.sep)[0] for f in new_files}
    assert len(new_buckets) == 1
    assert engine.view("card").filter("id = 7").head()["status"] == "BLOCKED"


def test_engine_search_and_query_string_on_mirror(spark, tmp_path):
    """The reference user's `_search` flow against the always-current
    mirror: request-body DSL (aggs included) and the Dashboards
    search-bar line both answer from the mirror."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    snap = spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT"),
         (3, "BLOCKED", "DEBIT"), (4, "ACTIVE", "DEBIT")],
        CARD_SCHEMA,
    )
    engine.backfill("card", snap)

    # the DASHBOARD_GUIDE.md:89 search-bar line, verbatim
    hits = engine.query_string("card", "status:ACTIVE AND card_type:DEBIT")
    assert {r["id"] for r in hits.collect()} == {1, 4}

    # request body with an agg over the same mirror
    agg = engine.search("card", {
        "query": {"term": {"status": "ACTIVE"}},
        "aggs": {"by_type": {"terms": {"field": "card_type"}}},
    })
    counts = {r["by_type"]: r["doc_count"] for r in agg.collect()}
    assert counts == {"DEBIT": 2, "CREDIT": 1}

    # prohibited-clause form; size caps hits
    neg = engine.query_string("card", "+status:ACTIVE -card_type:CREDIT",
                              size=1)
    rows = neg.collect()
    assert len(rows) == 1 and rows[0]["card_type"] == "DEBIT"


def test_engine_ppl_on_mirror(spark, tmp_path):
    """PPL pipelines resolve source= against the mirror views."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT"),
         (3, "BLOCKED", "DEBIT")],
        CARD_SCHEMA,
    ))
    rows = engine.ppl(
        "source=card | where status = 'ACTIVE' "
        "| stats count() as n by card_type | sort +card_type"
    ).collect()
    assert [(r["card_type"], r["n"]) for r in rows] == [
        ("CREDIT", 1), ("DEBIT", 1)
    ]


def test_engine_scan_pages_are_disjoint_and_exhaustive(spark, tmp_path):
    """scan() walks the whole mirror in keyset pages: disjoint,
    exhaustive, honoring a query filter."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(i, "ACTIVE" if i % 3 else "BLOCKED", "DEBIT") for i in range(1, 26)],
        CARD_SCHEMA,
    ))
    pages = list(engine.scan("card", page_size=7))
    sizes = [len(p) for p in pages]
    ids = [r["id"] for p in pages for r in p]
    assert sizes == [7, 7, 7, 4]
    assert ids == sorted(ids) and len(set(ids)) == 25
    filtered = [
        r["id"] for p in engine.scan(
            "card", page_size=4, query={"term": {"status": "BLOCKED"}})
        for r in p
    ]
    assert filtered == [i for i in range(1, 26) if i % 3 == 0]


def test_engine_reindex_filtered_and_idempotent(spark, tmp_path):
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(i, "ACTIVE" if i % 2 else "BLOCKED", "DEBIT") for i in range(1, 11)],
        CARD_SCHEMA,
    ))
    n = engine.reindex("card", "card_active",
                       query={"term": {"status": "ACTIVE"}})
    assert n == 5
    assert {r["id"] for r in engine.view("card_active").collect()} == {
        1, 3, 5, 7, 9
    }
    # idempotent: re-running converges to the same state
    assert engine.reindex("card", "card_active",
                          query={"term": {"status": "ACTIVE"}}) == 5


def test_engine_search_reflects_streamed_changes(spark, tmp_path):
    """The query surface answers from post-stream mirror state: a
    query-string search after a CDC batch sees the update, not the
    snapshot — the always-current contract through the _search path."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA,
    ))
    assert {r["id"] for r in
            engine.query_string("card", "status:ACTIVE").collect()} == {1, 2}
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            envelope("u", 1, "BLOCKED", "DEBIT", 10),
            envelope("c", 3, "ACTIVE", "DEBIT", 11),
        ]))
    engine.start_stream("card", log_dir)
    engine.await_all()
    assert {r["id"] for r in
            engine.query_string("card", "status:ACTIVE").collect()} == {2, 3}
    agg = engine.search("card", {"aggs": {
        "st": {"terms": {"field": "status"}}}})
    assert {r["st"]: r["doc_count"] for r in agg.collect()} == {
        "ACTIVE": 2, "BLOCKED": 1}


def test_engine_msearch_and_explain(spark, tmp_path):
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "BLOCKED", "CREDIT")], CARD_SCHEMA,
    ))
    r1, r2 = engine.msearch("card", [
        {"query": {"term": {"status": "ACTIVE"}}},
        {"aggs": {"st": {"terms": {"field": "status"}}}},
    ])
    assert {r["id"] for r in r1.collect()} == {1}
    assert {r["st"] for r in r2.collect()} == {"ACTIVE", "BLOCKED"}
    plan = engine.explain("card", {"query": {"term": {"status": "ACTIVE"}}})
    assert "Physical Plan" in plan and "ACTIVE" in plan


def test_engine_maintenance_apis(spark, tmp_path):
    """_count / _delete_by_query / _update_by_query: maintenance flows
    expressed as keyed-merge batches (never rewrite-in-place), so they
    compose with streaming and replay idempotently."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(i, "ACTIVE" if i % 2 else "BLOCKED", "DEBIT") for i in range(1, 11)],
        CARD_SCHEMA,
    ))
    assert engine.count("card") == 10
    assert engine.count("card", {"term": {"status": "BLOCKED"}}) == 5

    n = engine.delete_by_query("card", {"term": {"status": "BLOCKED"}})
    assert n == 5
    assert engine.count("card") == 5
    assert engine.count("card", {"term": {"status": "BLOCKED"}}) == 0
    # idempotent: nothing left to match
    assert engine.delete_by_query("card", {"term": {"status": "BLOCKED"}}) == 0

    n = engine.update_by_query(
        "card", {"range": {"id": {"lte": 3}}},
        {"status": "FROZEN",
         "card_type": {"script": "upper(concat(card_type, '_X'))"}},
    )
    assert n == 2  # ids 1, 3 remain (evens were BLOCKED → deleted)
    rows = {r["id"]: r for r in engine.view("card").collect()}
    assert rows[1]["status"] == "FROZEN" and rows[1]["card_type"] == "DEBIT_X"
    assert rows[5]["status"] == "ACTIVE"  # untouched
    # the updated state is immediately searchable
    hits = engine.search("card", {"query": {"term": {"status": "FROZEN"}},
                                  "size": 10}).collect()
    assert {r["id"] for r in hits} == {1, 3}


def test_engine_bulk_mget_alias_timetravel(spark, tmp_path):
    """_bulk (mixed index/delete, later-wins ordering, seq above the
    mirror's max so it composes with streaming), _mget point lookups,
    index aliases (read = union, writes rejected), and time-travel
    reads of the versioned sink's committed manifests."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA))

    # _bulk: index 3, delete 2, then re-index 2 LATER in the same bulk
    # (later action on the same key must win), update 1
    counts = engine.bulk("card", [
        {"index": {"id": 3, "status": "NEW", "card_type": "DEBIT"}},
        {"delete": {"id": 2}},
        {"index": {"id": 2, "status": "REOPENED", "card_type": "CREDIT"}},
        {"index": {"id": 1, "status": "BLOCKED", "card_type": "DEBIT"}},
    ], batch_id=0)
    assert counts == {"index": 3, "delete": 1}
    rows = {r["id"]: r for r in engine.view("card").collect()}
    assert rows[2]["status"] == "REOPENED"  # re-index after delete wins
    assert rows[1]["status"] == "BLOCKED" and rows[3]["status"] == "NEW"
    # a second bulk's seqs sit above the first's (composes, idempotent)
    engine.bulk("card", [{"delete": {"id": 3}}], batch_id=1)
    assert engine.count("card") == 2

    # _mget
    got = {r["id"] for r in engine.mget("card", [1, 2, 99]).collect()}
    assert got == {1, 2}

    # alias: union of two mirrors; writes rejected
    engine.register_table("card_archive", CARD_SCHEMA)
    engine.backfill("card_archive", spark.createDataFrame(
        [(100, "CLOSED", "DEBIT")], CARD_SCHEMA))
    engine.put_alias("all_cards", ["card", "card_archive"])
    assert engine.count("all_cards") == 3
    hits = engine.search("all_cards", {
        "query": {"term": {"card_type": "DEBIT"}}, "size": 10})
    assert {r["id"] for r in hits.collect()} == {1, 100}
    with pytest.raises(ValueError, match="alias"):
        engine.delete_by_query("all_cards", {"term": {"status": "CLOSED"}})
    with pytest.raises(ValueError, match="alias"):
        engine.bulk("all_cards", [{"delete": {"id": 1}}])
    with pytest.raises(ValueError, match="already a table"):
        engine.put_alias("card", ["card_archive"])
    with pytest.raises(ValueError, match="unknown tables"):
        engine.put_alias("bad", ["nope"])

    # time travel: v1 = backfill, v2 = first bulk, v3 = second bulk
    assert engine.count("card") == 2
    v1 = {r["id"]: r["status"] for r in engine.view("card", version=1).collect()}
    assert v1 == {1: "ACTIVE", 2: "ACTIVE"}
    v2 = {r["id"]: r["status"] for r in engine.view("card", version=2).collect()}
    assert v2 == {1: "BLOCKED", 2: "REOPENED", 3: "NEW"}
    with pytest.raises(FileNotFoundError, match="no committed version"):
        engine.view("card", version=99).collect()
    with pytest.raises(ValueError, match="alias"):
        engine.view("all_cards", version=1)


def test_register_table_schema_rules_and_empty_alias(spark, tmp_path):
    """Round-8 ADVICE: register_table validates the key/op column
    conventions up front (instead of failing ambiguously at write
    time), and put_alias rejects an empty member list (ES requires at
    least one index per alias; view() would IndexError otherwise)."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    with pytest.raises(ValueError, match="key column"):
        engine.register_table("nokey", T.StructType(
            [T.StructField("status", T.StringType())]))
    with pytest.raises(ValueError, match="'op'"):
        engine.register_table("hasop", T.StructType(
            [T.StructField("id", T.LongType()),
             T.StructField("op", T.StringType())]))
    engine.register_table("card", CARD_SCHEMA)
    with pytest.raises(ValueError, match="at least one member"):
        engine.put_alias("empty", [])


def test_bulk_and_backfill_with_seq_in_schema(spark, tmp_path):
    """Round-8 ADVICE: a table registered with the seq column AS a
    schema field (the engine_search_mirror style — the CDC offset
    embedded in the row) must not get a duplicate seq column appended
    by bulk/backfill; bulk fills the field in place with allocated
    seqs, backfill uses the data's own values."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("status", T.StringType()),
    ])
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("acct", schema)
    # backfill: rows carry their own offsets (5, 9)
    engine.backfill("acct", spark.createDataFrame(
        [(1, 5, "ACTIVE"), (2, 9, "ACTIVE")], schema))
    rows = {r["id"]: r for r in engine.view("acct").collect()}
    assert rows[1]["offset"] == 5 and rows[2]["offset"] == 9
    assert len(engine.view("acct").columns) == len(schema.fields) + 1  # + op
    # bulk: allocated seq lands IN the offset field, above the max (9)
    engine.bulk("acct", [
        {"index": {"id": 3, "status": "NEW"}},
        {"delete": {"id": 2}},
    ], batch_id=0)
    rows = {r["id"]: r for r in engine.view("acct").collect()}
    assert set(rows) == {1, 3}
    assert rows[3]["offset"] >= 10  # above the backfill's own seqs


def test_bulk_seq_high_water_survives_high_seq_delete(spark, tmp_path):
    """Round-8 ADVICE: bulk allocates sequence numbers above the max
    seq EVER merged (the versioned sink's manifest high-water mark),
    not max over live rows — so after a high-seq DELETE consumed from
    the stream, a bulk write still outranks every consumed offset and
    an at-least-once replay of that stream batch cannot silently
    override it."""
    from pyspark.sql import functions as F

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    handle = engine.register_table("card", CARD_SCHEMA)

    def stream_batch(batch_id):
        # upsert id=1 @ seq 50, delete id=2 @ seq 100 — the batch a
        # replayed consumer would deliver again
        return spark.createDataFrame(
            [("u", 1, "ACTIVE", "DEBIT", 50), ("d", 2, None, None, 100)],
            ["op", "id", "status", "card_type", "offset"],
        ).withColumn("offset", F.col("offset").cast("long"))

    handle.sink.apply_batch(stream_batch(0), 0)
    assert {r["id"] for r in engine.view("card").collect()} == {1}
    # live max seq is 50; the merged high-water mark is 100
    assert handle.sink.latest_manifest()["max_seq"]["offset"] == 100
    # bulk resurrects id=2 — must be allocated seq > 100, not 51
    engine.bulk("card", [
        {"index": {"id": 2, "status": "REOPENED", "card_type": "CREDIT"}},
    ], batch_id=1)
    rows = {r["id"]: r for r in engine.view("card").collect()}
    assert rows[2]["status"] == "REOPENED" and rows[2]["offset"] > 100
    # at-least-once replay of the original stream batch (new batch_id,
    # same rows — past the exactly-once guard, so the merge's
    # last-write-wins must resolve it): the bulk write survives
    handle.sink.apply_batch(stream_batch(0), 2)
    rows = {r["id"]: r for r in engine.view("card").collect()}
    assert rows[2]["status"] == "REOPENED"  # delete@100 lost to bulk@101


def test_snapshot_restore_lifecycle(spark, tmp_path):
    """DR parity (round-8 verdict ask #4): ingest -> snapshot -> keep
    ingesting -> restore -> search equality at the snapshot version;
    the restored mirror carries the source's seq high-water mark; the
    exported snapshot survives source vacuum (while time-travel reads
    do not) - the defined retention interplay."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path / "wd"))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA))  # v1
    engine.bulk("card", [
        {"index": {"id": 3, "status": "NEW", "card_type": "DEBIT"}},
        {"index": {"id": 1, "status": "BLOCKED", "card_type": "DEBIT"}},
    ], batch_id=0)  # v2 - the state we snapshot

    snap_dir = str(tmp_path / "snap")
    info = engine.snapshot("card", snap_dir)
    assert info["source_version"] == 2
    at_snap = {(r["id"], r["status"]) for r in engine.view("card").collect()}

    # keep ingesting: delete 3, update 2 (v3)
    engine.bulk("card", [
        {"delete": {"id": 3}},
        {"index": {"id": 2, "status": "CLOSED", "card_type": "CREDIT"}},
    ], batch_id=1)
    assert {(r["id"], r["status"]) for r in engine.view("card").collect()} != at_snap

    # restore into a fresh mirror: exact equality at the snapshot state
    engine.restore(snap_dir, "card_dr")
    restored = {(r["id"], r["status"]) for r in engine.view("card_dr").collect()}
    assert restored == at_snap
    # ...and the search surface answers over it like any mirror
    hits = engine.search("card_dr", {
        "query": {"term": {"status": "BLOCKED"}}, "size": 10})
    assert {r["id"] for r in hits.collect()} == {1}

    # high-water mark carried: the source had consumed seqs up to the
    # bulk's allocations; a fresh bulk on the restored mirror must
    # allocate above them even though live rows sit lower
    src_hwm = engine.tables["card"].sink.manifest(2)["max_seq"]["offset"]
    dr_hwm = engine.tables["card_dr"].sink.latest_manifest()["max_seq"]["offset"]
    assert dr_hwm == src_hwm

    # restore refuses to clobber an existing table
    with pytest.raises(ValueError, match="fresh table"):
        engine.restore(snap_dir, "card")

    # vacuum interplay: dropping old versions kills time-travel to v2
    # but the exported snapshot still restores
    engine.tables["card"].sink.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError):
        engine.view("card", version=2).collect()
    with pytest.raises(FileNotFoundError):
        engine.snapshot("card", str(tmp_path / "snap2"), version=2)
    engine.restore(snap_dir, "card_dr2")
    assert {(r["id"], r["status"])
            for r in engine.view("card_dr2").collect()} == at_snap


def test_engine_knn_index_staleness_contract(spark, tmp_path):
    """put_knn_index + index-backed knn search (the OpenSearch
    knn_vector serving path): with num_candidates covering the corpus
    the index path must EQUAL the exact scan; after post-build bulk
    writes the STALE index must still be correct for everything it
    returns — deletes vanish, updated vectors score with live values,
    new rows are visible (the seq-delta union) — and a refresh
    (re-put) advances the high-water mark."""
    from postgres_opensearch_cdc_spark.registry import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = [float(x) for x in vecs.filter("vec_id = 0").head()["embedding"]]
    engine = CdcEngine(spark=spark, workdir=str(tmp_path),
                       key_col="vec_id", seq_col="offset")
    engine.register_table("vecs", vecs.schema)
    # pinned: a test-sized mirror derives 1 bucket; keep merges that
    # touch only some buckets under the knn index
    engine.tables["vecs"].sink.num_buckets = 8
    engine.backfill("vecs", vecs.filter("vec_id <> 0"))
    meta = engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    assert ("vecs", "embedding") in engine.knn_indexes

    n = engine.count("vecs")
    body = {"knn": {"embedding": {
        "query_vector": q, "k": 5, "num_candidates": n}}}
    got = [(r["vec_id"], r["cos_sim"])
           for r in engine.search("vecs", body).collect()]
    # exact-path cross-check: same body on an index-less clone table
    engine.register_table("vecs_plain", vecs.schema)
    engine.backfill("vecs_plain", vecs.filter("vec_id <> 0"))
    want = [(r["vec_id"], r["cos_sim"])
            for r in engine.search("vecs_plain", body).collect()]
    assert got == want and len(got) == 5

    top1 = got[0][0]
    # 1) delete the current #1 through _bulk: stale index must not
    #    resurrect it (live semi-join drops the ghost)
    engine.bulk("vecs", [{"delete": {"vec_id": top1}}], batch_id=0)
    after_del = [r["vec_id"] for r in engine.search("vecs", body).collect()]
    assert top1 not in after_del
    # 2) update an existing far row's vector to the query vector: the
    #    update bumps seq above built_hwm -> exact delta path, ranks #1
    victim = int(vecs.selectExpr("max(vec_id) AS m").head()["m"])
    engine.bulk("vecs", [{"index": {
        "vec_id": victim, "label": 0, "embedding": q}}], batch_id=1)
    after_upd = [r["vec_id"] for r in engine.search("vecs", body).collect()]
    assert after_upd[0] == victim
    # 3) brand-new row with the query vector: visible immediately
    engine.bulk("vecs", [{"index": {
        "vec_id": 999999, "label": 0, "embedding": q}}], batch_id=2)
    after_ins = [r["vec_id"] for r in engine.search("vecs", body).collect()]
    assert set(after_ins[:2]) == {victim, 999999}
    # throughout: identical to the exact path over the live mirror
    engine.bulk("vecs_plain", [{"delete": {"vec_id": top1}}], batch_id=0)
    engine.bulk("vecs_plain", [{"index": {
        "vec_id": victim, "label": 0, "embedding": q}}], batch_id=1)
    engine.bulk("vecs_plain", [{"index": {
        "vec_id": 999999, "label": 0, "embedding": q}}], batch_id=2)
    assert after_ins == [
        r["vec_id"] for r in engine.search("vecs_plain", body).collect()]

    # refresh: rebuild advances the high-water mark past the bulks
    meta2 = engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    assert meta2["built_hwm"] > meta["built_hwm"]
    assert after_ins == [
        r["vec_id"] for r in engine.search("vecs", body).collect()]
    # a query pre-filter falls back to exact pre-filtered scoring
    filt = dict(body, query={"term": {"label": 0}})
    pre = engine.search("vecs", filt).collect()
    assert all(r["vec_id"] in {victim, 999999} for r in pre[:2])


@pytest.mark.parametrize("seed", range(5))
def test_bulk_stream_interleaving_fuzz(spark, tmp_path, seed):
    """Property test of the bulk/stream sequencing machinery: a seeded
    random interleaving of _bulk action lists and stream-style
    apply_batch merges (with occasional at-least-once REPLAYS of the
    last stream batch under a fresh batch_id) must leave the mirror
    exactly equal to a driver-side reference model that applies the
    same operations in order. Pins seq allocation above the high-water
    mark, later-wins bulk ordering, delete suppression, and replay
    resolution in one adversarial harness."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(1000 + seed)
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    handle = engine.register_table("card", CARD_SCHEMA)
    # pinned: a test-sized mirror derives 1 bucket, and the per-bucket
    # seq high-water and slice pruning need merges touching only some
    handle.sink.num_buckets = 4

    model: dict[int, tuple] = {}   # id -> (status, card_type) live rows
    model_seq: dict[int, int] = {}  # id -> seq of the live/last row
    next_stream_seq = 0
    last_stream: list | None = None
    batch_no = 0

    # initial backfill (seq -1) so every interleaving starts from a
    # committed mirror — and the backfill path itself is in the mix
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA))
    model.update({1: ("ACTIVE", "DEBIT"), 2: ("ACTIVE", "CREDIT")})
    model_seq.update({1: -1, 2: -1})

    def apply_stream(rows, bid):
        df = spark.createDataFrame(
            rows,
            "op string, id long, status string, card_type string, offset long",
        )
        handle.sink.apply_batch(df, bid)

    for step in range(8):
        kind = rng.choice(["bulk", "stream", "replay"])
        if kind == "bulk":
            actions, n = [], rng.randint(1, 5)
            # model: ES bulk ordering — later actions win; seqs above
            # every seq ever merged
            hwm = engine._seq_high_water("card")
            base = (hwm if hwm is not None else -1) + 1
            for i in range(n):
                rid = rng.randint(1, 8)
                if rng.random() < 0.3:
                    actions.append({"delete": {"id": rid}})
                    model.pop(rid, None)
                    model_seq[rid] = base + i
                else:
                    st = rng.choice(["ACTIVE", "BLOCKED", "NEW"])
                    actions.append({"index": {
                        "id": rid, "status": st, "card_type": "DEBIT"}})
                    model[rid] = (st, "DEBIT")
                    model_seq[rid] = base + i
            engine.bulk("card", actions, batch_id=1000 + step)
        elif kind == "stream":
            rows, n = [], rng.randint(1, 4)
            for _ in range(n):
                rid = rng.randint(1, 8)
                seq = next_stream_seq = max(
                    next_stream_seq + 1,
                    (engine._seq_high_water("card") or -1) + 1,
                )
                if rng.random() < 0.25:
                    rows.append(("d", rid, None, None, seq))
                    if model_seq.get(rid, -10) <= seq:
                        model.pop(rid, None)
                        model_seq[rid] = seq
                else:
                    st = rng.choice(["ACTIVE", "CLOSED"])
                    rows.append(("u", rid, st, "CREDIT", seq))
                    if model_seq.get(rid, -10) <= seq:
                        model[rid] = (st, "CREDIT")
                        model_seq[rid] = seq
            apply_stream(rows, batch_no)
            batch_no += 1
            last_stream = rows
        elif last_stream:
            # at-least-once replay under a NEW batch_id: past the
            # exactly-once guard, resolved by last-write-wins — the
            # model is unchanged (all replayed seqs <= current seqs)
            apply_stream(last_stream, batch_no)
            batch_no += 1
        got = {
            r["id"]: (r["status"], r["card_type"])
            for r in engine.view("card").collect()
        }
        assert got == model, f"divergence at step {step} ({kind})"


def test_engine_routed_multi_table_stream(spark, tmp_path):
    """One changelog stream, several tables (the reference's 3-topic
    consumer): events route by source.table to each registered mirror
    under a single checkpoint; schemas differ per table (union parse
    null-fills); every mirror is immediately searchable."""
    txn_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("status", T.StringType()),
    ])
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.register_table("txn", txn_schema)

    def env(op, table, body, offset):
        return json.dumps({
            "op": op,
            "before": body if op == "d" else None,
            "after": None if op == "d" else body,
            "ts_ms": 1000 + offset,
            "source": {"schema": "public", "table": table, "lsn": offset},
            "offset": offset,
        })

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("r", "card", {"id": 1, "status": "ACTIVE",
                              "card_type": "DEBIT"}, 1),
            env("r", "txn", {"id": 10, "amount": 25.5,
                             "status": "AUTHORIZED"}, 2),
            env("u", "card", {"id": 1, "status": "BLOCKED",
                              "card_type": "DEBIT"}, 3),
            env("c", "txn", {"id": 11, "amount": 9.0,
                             "status": "SETTLED"}, 4),
            env("d", "txn", {"id": 10}, 5),
        ]))
    engine.start_routed_stream(log_dir, ["card", "txn"])
    engine.await_all()

    assert engine.counts() == {"card": 1, "txn": 1}
    assert engine.view("card").head()["status"] == "BLOCKED"
    txn = engine.view("txn").head()
    assert (txn["id"], txn["amount"], txn["status"]) == (11, 9.0, "SETTLED")
    # per-table isolation: the union parse's columns don't leak across
    assert "amount" not in engine.view("card").columns
    assert "card_type" not in engine.view("txn").columns
    # the routed mirrors serve the full search surface
    hits = engine.search("txn", {"query": {"range": {"amount": {"lt": 10}}}})
    assert [r["id"] for r in hits.collect()] == [11]

    # a second drained run of the same checkpoint replays nothing new
    engine.start_routed_stream(log_dir, ["card", "txn"])
    engine.await_all()
    assert engine.counts() == {"card": 1, "txn": 1}

    # conflicting same-named column types are rejected up front
    engine.register_table("bad", T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.StringType()),
    ]))
    with pytest.raises(ValueError, match="conflicting types"):
        engine.start_routed_stream(log_dir, ["txn", "bad"])
    # tables embedding the seq column must use per-table streams
    engine.register_table("seqy", T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("offset", T.LongType()),
    ]))
    with pytest.raises(ValueError, match="embeds seq column"):
        engine.start_routed_stream(log_dir, ["seqy"])


def test_cat_indices(spark, tmp_path):
    """_cat/indices analog: live doc counts, live-data store bytes
    (old commits excluded), committed version, seq high-water mark,
    and alias rows with member resolution."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.register_table("empty_t", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA))
    engine.bulk("card", [{"delete": {"id": 2}}], batch_id=0)
    engine.put_alias("all_cards", ["card"])

    cat = {r["index"]: r for r in engine.cat_indices()}
    assert cat["card"]["status"] == "open"
    assert cat["card"]["docs_count"] == 1
    assert cat["card"]["store_bytes"] > 0
    assert cat["card"]["version"] == 2  # backfill + bulk
    assert cat["card"]["max_seq"] == 0  # the bulk delete's seq
    assert cat["empty_t"] == {
        "index": "empty_t", "status": "empty", "docs_count": 0,
        "store_bytes": 0, "version": None, "max_seq": None}
    assert cat["all_cards"]["status"] == "alias"
    assert cat["all_cards"]["docs_count"] == 1
    assert cat["all_cards"]["members"] == ["card"]

    # live-bytes reading: after vacuum the store size must not change
    # (it never counted dead commits)
    before = cat["card"]["store_bytes"]
    engine.tables["card"].sink.vacuum(keep_versions=1)
    after = {r["index"]: r for r in engine.cat_indices()}["card"]["store_bytes"]
    assert after == before


def test_snapshot_crash_window_and_knn_edges(spark, tmp_path):
    """Hardening edges: (a) a snapshot dir whose data write finished
    but whose snapshot.json never landed (crash window) is invisible
    to restore — fails cleanly, no partial table registered; (b) the
    knn delta scan's seq filter is PUSHED to the mirror scan; (c) an
    index-backed knn search with an empty delta equals the pure index
    answer reranked on live vectors; (d) routed streams tolerate a
    registered table receiving zero events."""
    import re

    from postgres_opensearch_cdc_spark.registry import load_table

    engine = CdcEngine(spark=spark, workdir=str(tmp_path / "wd"))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT")], CARD_SCHEMA))

    # (a) crash window: data exists, snapshot.json missing
    crash_dir = str(tmp_path / "crash_snap")
    engine.view("card").write.parquet(os.path.join(crash_dir, "data"))
    with pytest.raises(FileNotFoundError):
        engine.restore(crash_dir, "card_dr")
    assert "card_dr" not in engine.tables

    # (b)+(c): a vec mirror with an index and NO post-build changes
    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", "embedding")
    veng = CdcEngine(spark=spark, workdir=str(tmp_path / "vwd"),
                     key_col="vec_id", seq_col="offset")
    veng.register_table("vecs", vecs.schema)
    veng.backfill("vecs", vecs.filter("vec_id <> 0"))
    veng.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    q = [float(x) for x in vecs.filter("vec_id = 0").head()["embedding"]]
    n = veng.count("vecs")
    body = {"knn": {"embedding": {
        "query_vector": q, "k": 5, "num_candidates": n}}}
    hits = veng.search("vecs", body)
    plan = hits._jdf.queryExecution().explainString(
        hits._sc._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # the delta branch's seq filter reaches the parquet scan
    assert re.search(r"PushedFilters:.*GreaterThan\(offset", plan), plan
    got = [(r["vec_id"], r["cos_sim"]) for r in hits.collect()]
    # empty delta: equals exact brute force (num_candidates = corpus)
    from postgres_opensearch_cdc_spark.functions.similarity import (
        brute_force_topk,
    )

    want = [(r["vec_id"], r["cos_sim"]) for r in brute_force_topk(
        veng.view("vecs"), q, k=5, id_col="vec_id").collect()]
    assert got == want

    # (d) routed stream where one table gets zero events
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    engine.register_table("quiet", CARD_SCHEMA)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(envelope("u", 1, "BLOCKED", "DEBIT", 10))
    engine.start_routed_stream(log_dir, ["card", "quiet"])
    engine.await_all()
    assert engine.view("card").head()["status"] == "BLOCKED"
    assert not engine.tables["quiet"].sink.exists()  # untouched, not empty-written


def test_knn_index_route_preserves_dsl_contracts(spark, tmp_path):
    """The index-backed knn route must not weaken the DSL's contract:
    knn combined with aggs/sort/_source raises DSLError even when an
    index exists for the field (it would otherwise silently ignore
    the extra clauses)."""
    from postgres_opensearch_cdc_spark.dsl import DSLError
    from postgres_opensearch_cdc_spark.registry import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", "embedding")
    engine = CdcEngine(spark=spark, workdir=str(tmp_path),
                       key_col="vec_id", seq_col="offset")
    engine.register_table("vecs", vecs.schema)
    engine.backfill("vecs", vecs.filter("vec_id <> 0"))
    engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    q = [float(x) for x in vecs.filter("vec_id = 0").head()["embedding"]]
    for extra in ({"aggs": {"a": {"terms": {"field": "label"}}}},
                  {"sort": [{"vec_id": "asc"}]},
                  {"_source": ["vec_id"]}):
        body = {"knn": {"embedding": {"query_vector": q, "k": 3}}, **extra}
        with pytest.raises(DSLError, match="knn cannot be combined"):
            engine.search("vecs", body).collect()


def test_engine_knn_index_survives_restart(spark, tmp_path):
    """A NEW CdcEngine over an existing workdir must rehydrate the
    persisted vector index from its _knn_meta.json sidecar (not
    silently fall back to exact-scan knn), and index-backed search on
    the restarted engine must match the pre-restart results."""
    from postgres_opensearch_cdc_spark.registry import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = [float(x) for x in vecs.filter("vec_id = 0").head()["embedding"]]
    engine = CdcEngine(spark=spark, workdir=str(tmp_path),
                       key_col="vec_id", seq_col="offset")
    engine.register_table("vecs", vecs.schema)
    # pinned: a test-sized mirror derives 1 bucket; keep merges that
    # touch only some buckets under the knn index
    engine.tables["vecs"].sink.num_buckets = 8
    engine.backfill("vecs", vecs.filter("vec_id <> 0"))
    meta = engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    body = {"knn": {"embedding": {"query_vector": q, "k": 5,
                                  "num_candidates": 50}}}
    want = [(r["vec_id"], r["cos_sim"])
            for r in engine.search("vecs", body).collect()]

    # restart: same workdir, fresh engine object
    engine2 = CdcEngine(spark=spark, workdir=str(tmp_path),
                        key_col="vec_id", seq_col="offset")
    engine2.register_table("vecs", vecs.schema)
    assert engine2.knn_indexes.get(("vecs", "embedding")) == meta
    got = [(r["vec_id"], r["cos_sim"])
           for r in engine2.search("vecs", body).collect()]
    assert got == want
    # a fresh put_knn_index on the restarted engine still wins
    # (setdefault never clobbers a live registration)
    meta2 = engine2.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    assert engine2.knn_indexes[("vecs", "embedding")] == meta2


def test_put_knn_index_hwm_before_build_scans(spark, tmp_path, monkeypatch):
    """The mid-build commit race (ADVICE r9, medium): a row merged
    WHILE the index build's corpus scans run must remain visible to
    index-backed knn afterwards. The hwm is captured before training,
    so the mid-build row's seq lands ABOVE built_hwm and rides the
    exact seq-delta; capturing it after the build would hide the row
    until the next rebuild."""
    from postgres_opensearch_cdc_spark.functions import similarity as sim
    from postgres_opensearch_cdc_spark.registry import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "label", "embedding"
    )
    q = [float(x) for x in vecs.filter("vec_id = 0").head()["embedding"]]
    engine = CdcEngine(spark=spark, workdir=str(tmp_path),
                       key_col="vec_id", seq_col="offset")
    engine.register_table("vecs", vecs.schema)
    engine.backfill("vecs", vecs.filter("vec_id <> 0"))

    real_kmeans = sim.kmeans_train

    def racing_kmeans(*args, **kwargs):
        # a concurrent stream batch commits mid-build: this row will
        # NOT be in the built index (training already snapshotted the
        # corpus logically, and the code write happens after)
        engine.bulk("vecs", [{"index": {
            "vec_id": 777777, "label": 0, "embedding": q}}], batch_id=50)
        return real_kmeans(*args, **kwargs)

    monkeypatch.setattr(sim, "kmeans_train", racing_kmeans)
    meta = engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    # the mid-build row's seq is above the captured hwm -> exact delta
    mid_seq = engine.view("vecs").filter("vec_id = 777777").head()["offset"]
    assert mid_seq > meta["built_hwm"]
    body = {"knn": {"embedding": {"query_vector": q, "k": 3,
                                  "num_candidates": 20}}}
    hits = [r["vec_id"] for r in engine.search("vecs", body).collect()]
    assert hits[0] == 777777


def test_routed_checkpoint_keyed_by_changelog_dir(spark, tmp_path):
    """ADVICE r9: routing the SAME table set from a DIFFERENT
    changelog directory must get its own checkpoint — the second
    directory's events apply instead of being swallowed by the first
    checkpoint's file-source log."""
    import glob

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)

    dir_a = str(tmp_path / "log_a")
    os.makedirs(dir_a)
    with open(os.path.join(dir_a, "b1.json"), "w") as f:
        f.write(envelope("c", 1, "ACTIVE", "DEBIT", 1))
    engine.start_routed_stream(dir_a, ["card"])
    engine.await_all()
    assert engine.counts() == {"card": 1}

    dir_b = str(tmp_path / "log_b")
    os.makedirs(dir_b)
    with open(os.path.join(dir_b, "b1.json"), "w") as f:
        f.write(envelope("c", 2, "BLOCKED", "CREDIT", 1))
    engine.start_routed_stream(dir_b, ["card"])
    engine.await_all()
    assert {r["id"] for r in engine.view("card").collect()} == {1, 2}
    # two distinct checkpoints exist — one per (dir, tables) key
    assert len(glob.glob(os.path.join(str(tmp_path), "ckpt_routed_*"))) == 2


def test_routed_stream_knn_freshness(spark, tmp_path):
    """Routed CDC stream × registered vector index (r9 verdict ask #7):
    stream micro-batches into a mirror that carries a live IVFPQ index
    and assert the staleness contract across batches — streamed inserts
    are immediately visible via the exact seq-delta, streamed updates
    score with their live vectors, streamed deletes never return, and a
    refresh (re-put) preserves the same answers while advancing the
    high-water mark past the consumed offsets."""
    from pyspark.sql import functions as F

    from postgres_opensearch_cdc_spark.registry import load_table

    vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        F.col("vec_id").alias("id"), "label", "embedding"
    )
    q = [float(x) for x in vecs.filter("id = 0").head()["embedding"]]
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("vecs", vecs.schema)
    # pinned: a test-sized mirror derives 1 bucket; keep merges that
    # touch only some buckets under the knn index
    engine.tables["vecs"].sink.num_buckets = 8
    engine.backfill("vecs", vecs.filter("id <> 0"))
    meta = engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)

    body = {"knn": {"embedding": {"query_vector": q, "k": 3,
                                  "num_candidates": 30}}}
    top1 = engine.search("vecs", body).head()["id"]
    victim = int(vecs.agg(F.max("id")).head()[0])

    def env(op, rid, emb, offset):
        doc = {"id": rid, "label": 0, "embedding": emb}
        return json.dumps({
            "op": op,
            "before": doc if op == "d" else None,
            "after": None if op == "d" else doc,
            "ts_ms": 1000 + offset,
            "source": {"schema": "public", "table": "vecs", "lsn": offset},
            "offset": offset,
        })

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            env("d", top1, q, 1),            # delete the current #1
            env("u", victim, q, 2),          # update far row -> query vec
            env("c", 555555, q, 3),          # brand-new row at query vec
        ]))
    engine.start_routed_stream(log_dir, ["vecs"])
    engine.await_all()

    hits = [r["id"] for r in engine.search("vecs", body).collect()]
    assert top1 not in hits                  # delete never returns
    assert set(hits[:2]) == {victim, 555555}  # update + insert visible
    # streamed offsets sit above the build hwm -> exact delta path
    assert engine._seq_high_water("vecs") > meta["built_hwm"]

    # refresh: the rebuilt index absorbs the streamed rows; answers
    # unchanged, hwm advanced past every consumed offset
    meta2 = engine.put_knn_index("vecs", "embedding", cells=4, nprobe=4)
    assert meta2["built_hwm"] >= 3 > meta["built_hwm"]
    assert [r["id"] for r in engine.search("vecs", body).collect()] == hits

    # a second streamed batch against the FRESH index keeps the contract
    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write(env("d", 555555, q, 4))
    engine.start_routed_stream(log_dir, ["vecs"])
    engine.await_all()
    hits2 = [r["id"] for r in engine.search("vecs", body).collect()]
    assert 555555 not in hits2 and hits2[0] == victim


def test_update_partial_doc_merge(spark, tmp_path):
    """The _update endpoint: partial doc merge preserves untouched
    fields, detect_noop reports unchanged writes without bumping seq,
    missing docs raise unless doc_as_upsert, unknown fields and key
    mismatches are rejected, and the write composes with the stream
    seq allocation (lands above the high-water mark)."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.bulk("card", [
        {"index": {"id": 1, "status": "ACTIVE", "card_type": "DEBIT"}},
        {"index": {"id": 2, "status": "ACTIVE", "card_type": "CREDIT"}},
    ], batch_id=0)

    assert engine.update("card", 1, {"status": "BLOCKED"}) == {
        "result": "updated"}
    row = engine.mget("card", [1]).head()
    assert (row["status"], row["card_type"]) == ("BLOCKED", "DEBIT")
    hwm_after_update = engine._seq_high_water("card")

    # noop: same values -> no write, hwm unchanged
    assert engine.update("card", 1, {"status": "BLOCKED"}) == {
        "result": "noop"}
    assert engine._seq_high_water("card") == hwm_after_update

    with pytest.raises(KeyError, match="not found"):
        engine.update("card", 99, {"status": "NEW"})
    assert engine.update("card", 99, {"status": "NEW"},
                         doc_as_upsert=True) == {"result": "created"}
    assert engine.mget("card", [99]).head()["card_type"] is None

    with pytest.raises(ValueError, match="unknown field"):
        engine.update("card", 1, {"nope": 1})
    with pytest.raises(ValueError, match="targets key"):
        engine.update("card", 1, {"id": 2})
    # update's seq landed above prior writes: a replayed older change
    # cannot override it
    assert engine._seq_high_water("card") > hwm_after_update


def test_monitor_alerts_fire_per_micro_batch(spark, tmp_path):
    """Alerting monitors (the reference guide's 'set up alerts' tip):
    a registered search body + result-frame condition evaluates after
    every micro-batch merge — a batch pushing the aggregate past the
    threshold appends alert rows stamped with that batch id, quiet
    batches append nothing, and on-demand evaluation works without a
    stream."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.put_monitor(
        "too_many_blocked", "card",
        {"aggs": {"by_status": {"terms": {"field": "status"}}}},
        "by_status = 'BLOCKED' AND doc_count >= 2",
    )
    with pytest.raises(ValueError, match="unknown table"):
        engine.put_monitor("x", "nope", {}, "1 = 1")
    with pytest.raises(ValueError, match="does not parse"):
        engine.put_monitor("x", "card", {}, "status ===")

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write("\n".join([
            envelope("c", 1, "ACTIVE", "DEBIT", 1),
            envelope("c", 2, "BLOCKED", "CREDIT", 2),
        ]))
    engine.start_stream("card", log_dir)
    engine.await_all()
    assert engine.alerts("too_many_blocked").count() == 0  # 1 < 2

    with open(os.path.join(log_dir, "b2.json"), "w") as f:
        f.write(envelope("u", 1, "BLOCKED", "DEBIT", 3))
    engine.start_stream("card", log_dir)
    engine.await_all()
    rows = engine.alerts("too_many_blocked").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["monitor"], r["by_status"], r["doc_count"]) == (
        "too_many_blocked", "BLOCKED", 2)
    assert r["batch_id"] >= 0

    # on-demand evaluation (the cron-style schedule analog)
    fired = engine.evaluate_monitors()
    assert fired == {"too_many_blocked": 1}
    assert engine.alerts("too_many_blocked").count() == 2
    with pytest.raises(KeyError, match="unknown monitor"):
        engine.alerts("nope")


def test_pit_search_pages_stable_snapshot(spark, tmp_path):
    """Point-in-time search: a pit pins the committed version, so
    search_after paging walks a STABLE result while concurrent writes
    land — new/updated/deleted rows stay invisible through the pit and
    visible without it; vacuum expires the pit (FileNotFoundError);
    the id must reference its own table."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.bulk("card", [
        {"index": {"id": i, "status": "ACTIVE", "card_type": "DEBIT"}}
        for i in range(1, 8)
    ], batch_id=0)
    pit = engine.open_pit("card")
    assert pit == {"id": "card:1"}

    # concurrent writes after the pit
    engine.bulk("card", [
        {"index": {"id": 99, "status": "ACTIVE", "card_type": "NEW"}},
        {"delete": {"id": 3}},
    ], batch_id=1)

    base = {"pit": pit, "sort": [{"id": {"order": "asc"}}],
            "_source": ["id"], "size": 3}
    page1 = [r["id"] for r in engine.search("card", base).collect()]
    page2 = [r["id"] for r in engine.search("card", {
        **base, "search_after": [page1[-1]]}).collect()]
    page3 = [r["id"] for r in engine.search("card", {
        **base, "search_after": [page2[-1]]}).collect()]
    assert page1 + page2 + page3 == [1, 2, 3, 4, 5, 6, 7]  # incl. 3, no 99
    live = [r["id"] for r in engine.search("card", {
        "sort": [{"id": {"order": "asc"}}], "_source": ["id"],
        "size": 10}).collect()]
    assert 3 not in live and 99 in live

    with pytest.raises(ValueError, match="does not reference table"):
        engine.search("card", {"pit": {"id": "other:1"}})
    # unknown top-level keys still raise through the pit path
    from postgres_opensearch_cdc_spark.dsl import DSLError

    with pytest.raises(DSLError, match="unknown top-level body keys"):
        engine.search("card", {"pit": pit, "frm": 1})
    # vacuum expires the pinned version
    engine.tables["card"].sink.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError):
        engine.search("card", base).collect()


def test_validate_and_field_caps(spark, tmp_path):
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.register_table("card_archive", CARD_SCHEMA)
    other = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("status", T.LongType()),  # type conflict vs card
    ])
    engine.register_table("audit", other)
    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT")], CARD_SCHEMA))

    assert engine.validate("card", {
        "query": {"term": {"status": "ACTIVE"}}, "size": 1}) == {
        "valid": True}
    bad = engine.validate("card", {"query": {"nope": {}}})
    assert bad["valid"] is False and "unknown query node" in bad["error"]
    bad2 = engine.validate("card", {"frm": 2})
    assert bad2["valid"] is False and "unknown top-level" in bad2["error"]
    bad3 = engine.validate("card", {"query": {"term": {"ghost_col": 1}}})
    assert bad3["valid"] is False

    caps = engine.field_caps("card*")
    assert caps["indices"] == ["card", "card_archive"]
    assert caps["fields"]["status"]["type"] == "string"
    all_caps = engine.field_caps("*")
    assert all_caps["fields"]["status"]["type"] == "conflict"
    assert set(all_caps["fields"]["status"]["types"]) == {"string", "bigint"}
    assert all_caps["fields"]["status"]["types"]["bigint"] == ["audit"]
    engine.put_alias("cards_all", ["card", "card_archive"])
    assert engine.field_caps("cards_all")["indices"] == [
        "card", "card_archive"]
    with pytest.raises(ValueError, match="no tables match"):
        engine.field_caps("zzz*")


def test_engine_sql_interface(spark, tmp_path):
    """The SQL-plugin analog: registered mirrors and aliases resolve
    as table names over their always-current state, and the SQL
    answers track CDC writes."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.bulk("card", [
        {"index": {"id": 1, "status": "ACTIVE", "card_type": "DEBIT"}},
        {"index": {"id": 2, "status": "ACTIVE", "card_type": "CREDIT"}},
        {"index": {"id": 3, "status": "BLOCKED", "card_type": "DEBIT"}},
    ], batch_id=0)
    got = {(r["status"], r["n"]) for r in engine.sql(
        "SELECT status, count(*) AS n FROM card GROUP BY status"
    ).collect()}
    assert got == {("ACTIVE", 2), ("BLOCKED", 1)}
    # the view is always-current: a delete shows up in the next call
    engine.bulk("card", [{"delete": {"id": 2}}], batch_id=1)
    assert engine.sql("SELECT count(*) AS n FROM card").head()["n"] == 2
    # aliases resolve too
    engine.register_table("card2", CARD_SCHEMA)
    engine.backfill("card2", spark.createDataFrame(
        [(9, "ACTIVE", "DEBIT")], CARD_SCHEMA))
    engine.put_alias("all_cards", ["card", "card2"])
    assert engine.sql(
        "SELECT count(*) AS n FROM all_cards").head()["n"] == 3


def test_search_template_strict_params(spark, tmp_path):
    """Search templates: whole-value placeholders keep the param's
    TYPE (numbers/lists), embedded ones interpolate; missing AND
    unknown params raise before anything renders."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.bulk("card", [
        {"index": {"id": 1, "status": "ACTIVE", "card_type": "DEBIT"}},
        {"index": {"id": 2, "status": "BLOCKED", "card_type": "CREDIT"}},
        {"index": {"id": 3, "status": "ACTIVE", "card_type": "CREDIT"}},
    ], batch_id=0)
    engine.put_template("by_status", {
        "query": {"bool": {
            "must": [{"term": {"status": "{{status}}"}}],
            "filter": [{"range": {"id": {"gte": "{{min_id}}"}}}],
        }},
        "sort": [{"id": {"order": "asc"}}],
        "_source": ["id", "status"],
        "size": "{{size}}",
    })
    assert engine.templates["by_status"]["params"] == [
        "min_id", "size", "status"]
    out = engine.search_template("card", "by_status", {
        "status": "ACTIVE", "min_id": 2, "size": 5})
    assert [r["id"] for r in out.collect()] == [3]
    with pytest.raises(ValueError, match="missing params \\['min_id'"):
        engine.search_template("card", "by_status",
                               {"status": "ACTIVE", "size": 5})
    with pytest.raises(ValueError, match="unknown params \\['sise'\\]"):
        engine.search_template("card", "by_status", {
            "status": "ACTIVE", "min_id": 0, "size": 1, "sise": 2})
    # embedded interpolation inside a larger string
    engine.put_template("prefixed", {
        "query": {"prefix": {"card_type": "{{p}}RED"}},
        "_source": ["id"], "sort": [{"id": "asc"}],
    })
    got = [r["id"] for r in engine.search_template(
        "card", "prefixed", {"p": "C"}).collect()]
    assert got == [2, 3]


def test_engine_sql_compiles_to_same_plan_shapes(spark, tmp_path):
    """The SQL interface goes through the same Catalyst pipeline as
    the other five: filters push into the mirror scan and aggregates
    run partial+final — and the term-query body compiles to the same
    filter shape over the same view."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.bulk("card", [
        {"index": {"id": i, "status": "ACTIVE" if i % 2 else "BLOCKED",
                   "card_type": "DEBIT"}}
        for i in range(1, 9)
    ], batch_id=0)
    sql_plan = engine.sql(
        "SELECT card_type, count(*) AS n FROM card "
        "WHERE status = 'ACTIVE' GROUP BY card_type"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(status), EqualTo(status,ACTIVE)]" \
        in sql_plan
    assert sql_plan.count("HashAggregate") >= 2  # partial + final
    body_plan = engine.search("card", {
        "query": {"term": {"status": "ACTIVE"}},
        "aggs": {"by_type": {"terms": {"field": "card_type"}}},
    })._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(status), EqualTo(status,ACTIVE)]" \
        in body_plan


def test_terms_enum_and_analyze(spark, tmp_path):
    """_terms_enum: prefix-filtered sorted distinct live values with a
    TakeOrderedAndProject plan; _analyze: analyzer chains over a
    constant string in the ES token/position shape."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.bulk("card", [
        {"index": {"id": 1, "status": "ACTIVE", "card_type": "DEBIT"}},
        {"index": {"id": 2, "status": "ACTIVATING", "card_type": "CREDIT"}},
        {"index": {"id": 3, "status": "BLOCKED", "card_type": "DEBIT"}},
        {"index": {"id": 4, "status": "ARCHIVED", "card_type": "PREPAID"}},
    ], batch_id=0)
    assert engine.terms_enum("card", "status", prefix="ac") == [
        "activating", "active"]
    assert engine.terms_enum("card", "status", prefix="AC",
                             case_insensitive=False) == [
        "ACTIVATING", "ACTIVE"]
    assert engine.terms_enum("card", "card_type", size=2) == [
        "credit", "debit"]
    # deleted values vanish from the enum (live mirror, not history)
    engine.bulk("card", [{"delete": {"id": 4}}], batch_id=1)
    assert "archived" not in engine.terms_enum("card", "status")

    toks = engine.analyze("The QUICK brown Foxes",
                          filters=(("lowercase",), ("stop", ["the"])))
    assert toks == [
        {"token": "quick", "position": 0},
        {"token": "brown", "position": 1},
        {"token": "foxes", "position": 2},
    ]


def test_monitor_on_uncommitted_table_reports_no_hits(spark, tmp_path):
    """A monitor on a registered table with no commit yet evaluates to
    0 hits and an empty log (an index with no documents), typed as the
    log of the table's first commit; time travel to a missing version
    still raises."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.put_monitor("any_card", "card", {"query": {"match_all": {}}},
                       "id > 0")
    assert engine.evaluate_monitors(batch_id=1) == {"any_card": 0}
    empty = engine.alerts("any_card")
    assert empty.count() == 0
    before = engine.view("card").schema
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        engine.view("card", version=1).collect()

    engine.backfill("card", spark.createDataFrame(
        [(1, "ACTIVE", "DEBIT")], CARD_SCHEMA))
    assert engine.view("card").schema == before
    assert engine.evaluate_monitors(batch_id=2) == {"any_card": 1}
    log = engine.alerts("any_card")
    assert log.dtypes == empty.dtypes
    assert [(r["monitor"], r["batch_id"], r["id"]) for r in log.collect()] == [
        ("any_card", 2, 1)]


def test_monitor_on_alias_evaluates_when_member_streams(spark, tmp_path):
    """A monitor may target an ALIAS (the multi-index monitor shape);
    it evaluates whenever any member table's stream commits a batch."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.register_table("card_old", CARD_SCHEMA)
    engine.put_alias("cards", ["card", "card_old"])
    engine.backfill("card_old", spark.createDataFrame(
        [(50, "BLOCKED", "DEBIT")], CARD_SCHEMA))
    engine.put_monitor(
        "blocked_anywhere", "cards",
        {"aggs": {"st": {"terms": {"field": "status"}}}},
        "st = 'BLOCKED' AND doc_count >= 2",
    )
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b1.json"), "w") as f:
        f.write(envelope("c", 1, "BLOCKED", "CREDIT", 1))
    engine.start_stream("card", log_dir)  # a MEMBER streams
    engine.await_all()
    rows = engine.alerts("blocked_anywhere").collect()
    assert len(rows) == 1 and rows[0]["doc_count"] == 2  # union counted


def test_catalog_survives_engine_restart(spark, tmp_path):
    """Aliases, monitors, and templates are cluster-state in the
    reference stack — a restarted engine over the same workdir must
    answer search_template, evaluate_monitors, and alias searches
    without re-registration (same restart contract as the knn/rollup
    sidecars)."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.register_table("card_old", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "BLOCKED", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA))
    engine.backfill("card_old", spark.createDataFrame(
        [(9, "BLOCKED", "DEBIT")], CARD_SCHEMA))
    engine.put_alias("cards", ["card", "card_old"])
    engine.put_template(
        "by_status", {"query": {"term": {"status": "{{s}}"}}})
    engine.put_monitor(
        "any_blocked", "cards",
        {"aggs": {"st": {"terms": {"field": "status"}}}},
        "st = 'BLOCKED' AND doc_count >= 2",
    )
    assert engine.evaluate_monitors() == {"any_blocked": 1}

    # restart: only the TABLE is re-registered; catalog rehydrates
    engine2 = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine2.register_table("card", CARD_SCHEMA)
    engine2.register_table("card_old", CARD_SCHEMA)
    assert engine2.aliases == {"cards": ["card", "card_old"]}
    assert engine2.search("cards", {"query": {"term": {
        "status": "BLOCKED"}}}).count() == 2
    assert engine2.search_template(
        "card", "by_status", {"s": "ACTIVE"}).count() == 1
    # the restarted engine still EVALUATES the monitor (the r10 gap:
    # alert logs persisted but nothing evaluated anymore)
    assert engine2.evaluate_monitors() == {"any_blocked": 1}
    # and the alert log carries both engines' evaluations
    assert engine2.alerts("any_blocked").count() == 2

    # deletes persist too: a third engine over the same workdir must
    # not resurrect removed catalog entries
    engine2.delete_monitor("any_blocked")
    engine2.delete_template("by_status")
    engine2.delete_alias("cards")
    import pytest as _pytest
    with _pytest.raises(KeyError, match="unknown alias"):
        engine2.delete_alias("cards")
    engine3 = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine3.register_table("card", CARD_SCHEMA)
    assert engine3.aliases == {} and engine3.monitors == {}
    assert engine3.templates == {}
    assert engine3.evaluate_monitors() == {}


def test_alert_log_exactly_once_under_replay(spark, tmp_path):
    """The alert log uses the commit-manifest protocol: a replayed
    micro-batch (same writer+batch) must not duplicate alert rows; the
    same batch id from a DIFFERENT writer must log; a crash between
    the data write and the manifest rename leaves nothing visible and
    the replay heals it."""
    import glob
    import os as _os

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "BLOCKED", "DEBIT"), (2, "BLOCKED", "CREDIT")], CARD_SCHEMA))
    engine.put_monitor(
        "mb", "card",
        {"aggs": {"st": {"terms": {"field": "status"}}}},
        "st = 'BLOCKED' AND doc_count >= 2",
    )
    assert engine._evaluate_monitor("mb", 7, writer_id="ckptA") == 1
    # replay: skipped whole, same count reported, no duplicate rows
    assert engine._evaluate_monitor("mb", 7, writer_id="ckptA") == 1
    assert engine.alerts("mb").count() == 1
    # same batch id, different writer: a distinct evaluation
    assert engine._evaluate_monitor("mb", 7, writer_id="ckptB") == 1
    assert engine.alerts("mb").count() == 2
    rows = engine.alerts("mb").collect()
    assert {(r["monitor"], r["batch_id"]) for r in rows} == {("mb", 7)}

    # crash simulation: delete the manifest but leave the data dir —
    # the orphan is invisible and the replay re-commits exactly once
    import hashlib

    base = str(tmp_path / "alerts_mb")
    tag = hashlib.sha256(b"ckptA").hexdigest()[:12]
    [manifest] = glob.glob(
        _os.path.join(base, "_commits", f"w{tag}-b7.json"))
    _os.remove(manifest)
    assert engine.alerts("mb").count() == 1  # orphan data invisible
    assert engine._evaluate_monitor("mb", 7, writer_id="ckptA") == 1
    assert engine.alerts("mb").count() == 2


def test_alert_column_collision_is_renamed(spark, tmp_path):
    """A monitored body whose result frame already contains 'monitor'
    or 'batch_id' must not produce a log with duplicate column names —
    the result column is renamed result_<col> (lossless), per the
    round-10 advice."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "BLOCKED", "DEBIT")], CARD_SCHEMA))
    engine.put_monitor(
        "collide", "card",
        {"aggs": {"monitor": {"terms": {"field": "status"}}}},
        "doc_count >= 1",
    )
    assert engine.evaluate_monitors() == {"collide": 1}
    log = engine.alerts("collide")
    assert log.columns.count("monitor") == 1
    [r] = log.collect()
    assert r["monitor"] == "collide" and r["result_monitor"] == "BLOCKED"


def test_reindex_script_transforms_and_validates(spark, tmp_path):
    """_reindex script clause: {column: SQL expr} transforms rows in
    flight (results cast to the registered column type); unknown
    fields and unparseable expressions fail the CALL, not the job."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "active", "debit"), (2, "blocked", "credit")], CARD_SCHEMA))
    n = engine.reindex(
        "card", "card_norm",
        script={"status": "upper(status)", "id": "id + 100"},
    )
    assert n == 2
    rows = {r["id"]: (r["status"], r["card_type"])
            for r in engine.view("card_norm").collect()}
    assert rows == {101: ("ACTIVE", "debit"), 102: ("BLOCKED", "credit")}

    with pytest.raises(ValueError, match="unknown fields"):
        engine.reindex("card", "x", script={"nope": "1"})
    with pytest.raises(ValueError, match="does not parse"):
        engine.reindex("card", "x", script={"status": "upper(("})
    # results cast to the registered type: an int expr lands as the
    # schema's long, a numeric string column stays a string
    engine.reindex("card", "card_cast", script={"card_type": "42"})
    assert engine.view("card_cast").head()["card_type"] == "42"


def test_evaluate_monitors_with_batch_id_is_exactly_once(spark, tmp_path):
    """A REAL batch id is an exactly-once key even without a
    writer_id: calling evaluate_monitors(batch_id=N) twice (a
    caller-side replay) must log ONE entry, while distinct batch ids
    and on-demand calls (batch_id=-1) each log fresh entries."""
    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "BLOCKED", "DEBIT"), (2, "BLOCKED", "CREDIT")], CARD_SCHEMA))
    engine.put_monitor(
        "blocked2", "card",
        {"aggs": {"st": {"terms": {"field": "status"}}}},
        "st = 'BLOCKED' AND doc_count >= 2",
    )
    assert engine.evaluate_monitors(batch_id=7) == {"blocked2": 1}
    assert engine.alerts("blocked2").count() == 1
    # replay of the same batch id: skipped whole, count echoed back
    assert engine.evaluate_monitors(batch_id=7) == {"blocked2": 1}
    assert engine.alerts("blocked2").count() == 1
    # a different batch id and an on-demand call both log
    assert engine.evaluate_monitors(batch_id=8) == {"blocked2": 1}
    engine.evaluate_monitors()
    assert engine.alerts("blocked2").count() == 3
    # _cat-style counts read straight from the commit manifests
    assert engine.alert_counts() == {"blocked2": 3}


def test_monitor_evaluation_runs_one_pass(spark, tmp_path):
    """A monitor whose last evaluation fired writes its alert frame in
    one pass, counting the rows on that write (2 jobs). With no last
    outcome (the engine's first evaluation) it counts first and then
    writes (4 jobs); a replay of the same (writer, batch) runs none."""
    from tests.test_versioned_mirror import jobs_launched

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "BLOCKED", "DEBIT"), (2, "BLOCKED", "CREDIT")], CARD_SCHEMA))
    engine.put_monitor(
        "blocked2", "card",
        {"aggs": {"st": {"terms": {"field": "status"}}}},
        "st = 'BLOCKED' AND doc_count >= 2",
    )
    fired, jobs = jobs_launched(spark, lambda: engine.evaluate_monitors(batch_id=3))
    assert fired == {"blocked2": 1}
    assert jobs == 4
    fired, jobs = jobs_launched(spark, lambda: engine.evaluate_monitors(batch_id=4))
    assert fired == {"blocked2": 1}
    assert jobs == 2
    fired, jobs = jobs_launched(spark, lambda: engine.evaluate_monitors(batch_id=4))
    assert fired == {"blocked2": 1}
    assert jobs == 0
    assert engine.alerts("blocked2").count() == 2


def test_non_firing_monitor_leaves_no_data_dir(spark, tmp_path):
    """A non-firing evaluation commits ``commit: None`` and leaves no
    directory under the log's data dir; the log over a mix of firing
    and non-firing batches holds exactly the firing batches' rows."""
    import glob

    from tests.test_versioned_mirror import jobs_launched

    engine = CdcEngine(spark=spark, workdir=str(tmp_path))
    engine.register_table("card", CARD_SCHEMA)
    engine.backfill("card", spark.createDataFrame(
        [(1, "BLOCKED", "DEBIT"), (2, "ACTIVE", "CREDIT")], CARD_SCHEMA))
    engine.put_monitor(
        "blocked2", "card",
        {"aggs": {"st": {"terms": {"field": "status"}}}},
        "st = 'BLOCKED' AND doc_count >= 2",
    )
    data_dir = str(tmp_path / "alerts_blocked2" / "data")
    commits = str(tmp_path / "alerts_blocked2" / "_commits")
    # no firing evaluation before: count only, nothing written
    fired, jobs = jobs_launched(spark, lambda: engine.evaluate_monitors(batch_id=0))
    assert fired == {"blocked2": 0}
    assert jobs == 2
    assert not glob.glob(os.path.join(data_dir, "*"))
    with open(os.path.join(commits, "wadhoc-b0.json")) as fh:
        assert json.load(fh) == {"count": 0, "commit": None,
                                 "batch_id": 0, "writer_id": None}

    engine.bulk("card", [{"index": {"id": 2, "status": "BLOCKED", "card_type": "CREDIT"}}])
    assert engine.evaluate_monitors(batch_id=1) == {"blocked2": 1}
    assert len(glob.glob(os.path.join(data_dir, "*"))) == 1
    # after a firing evaluation the one-pass write runs; it fires not,
    # so its empty dir is removed and the entry commits no data
    engine.bulk("card", [{"delete": {"id": 1}}])
    fired, jobs = jobs_launched(spark, lambda: engine.evaluate_monitors(batch_id=2))
    assert fired == {"blocked2": 0}
    assert jobs == 2
    assert len(glob.glob(os.path.join(data_dir, "*"))) == 1
    with open(os.path.join(commits, "wadhoc-b2.json")) as fh:
        assert json.load(fh)["commit"] is None
    engine.bulk("card", [{"index": {"id": 1, "status": "BLOCKED", "card_type": "DEBIT"}}])
    assert engine.evaluate_monitors(batch_id=3) == {"blocked2": 1}
    assert engine.evaluate_monitors() == {"blocked2": 1}

    assert len(glob.glob(os.path.join(data_dir, "*"))) == 3
    rows = sorted(
        tuple(r) for r in engine.alerts("blocked2")
        .select("monitor", "batch_id", "st", "doc_count").collect()
    )
    assert rows == [("blocked2", -1, "BLOCKED", 2),
                    ("blocked2", 1, "BLOCKED", 2),
                    ("blocked2", 3, "BLOCKED", 2)]
    assert engine.alert_counts() == {"blocked2": 3}
