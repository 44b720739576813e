"""bench.py contract: one JSON line on stdout, <= 2,000 bytes (the
driver keeps only the last 2,000 bytes of stdout), with per-query
timings as a positional centisecond array in queries() order and no
failure sentinels. Runs at sf0.001 in a subprocess so the bench path is
tested exactly as the driver invokes it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_emits_valid_contract_json(tmp_path):
    sidecar = str(tmp_path / "sidecar.json")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_BENCH_SIDECAR=sidecar)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        # two full positional passes (round 9) + top-50 warm medians
        # (round 14) take ~12.5 min standalone at sf0.001 — and the
        # certification recipe runs this suite CONCURRENTLY with the
        # parity sweeps, so allow for a loaded box
        timeout=2400,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 1, f"expected exactly one JSON line, got: {proc.stdout!r}"
    assert len(lines[0]) + 1 <= 2000, f"bench line {len(lines[0])}B exceeds driver cap"
    doc = json.loads(lines[0])
    # queries_cs/warm_medians_cs are NOT in the mandatory set: they
    # are the last victims of the documented byte-budget shedding
    # below, and the surface has grown enough (367 entries) that a
    # wide-timing run can legitimately shed them — their CONTENT is
    # asserted only when present (r14 review finding)
    for key in ("metric", "value", "unit", "n_queries", "sf"):
        assert key in doc
    assert doc["unit"] == "sec"
    assert doc["sf"] == 0.001
    assert doc["value"] > 0

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    assert doc["n_queries"] == len(names)
    # positional array is only decodable at this exact entry order —
    # the checksum pins it so a mid-round reorder can't silently
    # mis-attribute timings
    import hashlib

    assert doc["order_md5"] == hashlib.md5(
        ",".join(names).encode()
    ).hexdigest()[:8]
    if "queries_cs" in doc:
        assert len(doc["queries_cs"]) == len(names)
        failed = [n for n, cs in zip(names, doc["queries_cs"]) if cs < 0]
        assert not failed, f"bench queries failed: {failed}"
    tp = doc["throughput"]
    assert tp["backfill_rows_per_sec"] > 0
    assert tp["stream_upsert_events_per_sec"] > 0
    # range bucket_expr merge mode: clustered batch must touch ≪ 32
    # buckets (the scale claim the metric exists to evidence)
    assert tp["partitioned_merge_range_batch_sec"] > 0
    assert 1 <= tp["range_touched_buckets"] <= 4, tp["range_touched_buckets"]
    # isolated warm medians for the 10 heaviest entries (sheddable —
    # see shed_order below; full top-50 always lands in the sidecar)
    if "warm_medians_cs" in doc:
        wm = doc["warm_medians_cs"]
        assert len(wm) == 10 and all(v >= 0 for v in wm.values())
        assert set(wm) <= set(names) | {"approx_sketches"}
    # noise immunity (round-9): per-entry min over 2 positional
    # passes. Session-memoized entries build their memo in pass 1 and
    # hit it in pass 2, so they report memo-HIT times; the builds the
    # memo recorded in pass 1 are reported as memo_build_sec (keeps the
    # headline rotation-stable)
    assert doc["passes"] == 2
    assert doc["memo_build_sec"] > 0
    # fields past the byte budget are shed in a documented order
    # ("memoized" first) and live on in the progress log and, for
    # "memoized", in the sidecar; assert the shed order is respected
    # (a later victim present implies every earlier one is too)
    shed_order = ["memoized", "loadavg", "total_with_memo_sec",
                  "warm_medians_cs", "queries_cs"]
    present = [f in doc for f in shed_order]
    assert present == sorted(present), (
        f"shed order violated: {[f for f, p in zip(shed_order, present) if p]}"
    )
    # round-14: full top-50 warm medians live in the SIDECAR file
    # (stdout keeps the top-10 slice under its byte cap), keyed by
    # the same order_md5 so drift is detectable
    with open(sidecar) as f:
        sc = json.load(f)
    assert sc["order_md5"] == doc["order_md5"]
    # the memo derives both memo fields: "memoized" is every entry that
    # read a session memo in pass 1, and the per-memo build seconds sum
    # to memo_build_sec
    memoized = set(sc["memoized"])
    assert {
        "dedup_minhash_lsh", "dedup_cc_clusters", "dedup_cc_survivors",
        "dedup_quality_survivors", "dedup_edit_distance",
        "bpe_train_merges", "bpe_train_merges_local",
        "wordpiece_train_scores",
    } <= memoized
    assert {"search_hybrid_rrf", "search_hybrid_minmax",
            "search_eval_metrics", "search_rank_rbo"} <= memoized
    assert {"kmeans_clusters", "dedup_semantic_keep"} <= memoized
    rollups = [n for n in names if n.startswith("engine_rollup_")]
    assert rollups and set(rollups) <= memoized
    if "memoized" in doc:
        assert doc["memoized"] == sc["memoized"]
    by_memo = sc["memo_build_sec_by_name"]
    assert {"sem_centroids", "hybrid_legs", "staged_envelopes"} <= set(by_memo)
    assert abs(sum(by_memo.values()) - doc["memo_build_sec"]) < 0.001
    assert len(sc["warm_medians_cs"]) == min(50, len(names))
    assert set(wm).issubset(sc["warm_medians_cs"])
    # round-12 fields: headline+memo in one number and ambient load
    if "total_with_memo_sec" in doc:
        assert abs(doc["total_with_memo_sec"]
                   - (doc["value"] + doc["memo_build_sec"])) < 0.01
    if "loadavg" in doc:
        assert len(doc["loadavg"]) == 3 and all(
            x >= 0 for x in doc["loadavg"]
        )
