"""The engine's one commit point: every JSON object the package
commits (manifests, catalog, sidecars, ILM state) goes through
``write_json_atomic``, and every versioned store keeps its manifests
in a ``CommitLog``.

``write_json_atomic`` writes a dot-prefixed temp file next to the
target and renames it over the target: readers see the old
object or the new one, never a torn one (on an object store, one
PUT). Dot-prefixed, so Spark's parquet readers and every manifest
listing here skip a temp file a crash left behind.

A ``CommitLog`` is the versioned layout the mirror, rollup, Gram and
sketch sinks share::

    <path>/data/<commit dir>/...     immutable data, one dir per commit
    <path>/_commits/v<%08d>.json     one manifest per version

A commit writes its data into a fresh commit dir, then publishes
``v<base+1>.json``; that one manifest write is the commit point, so a
crash before it leaves orphan data no manifest references and the
store readable at the previous version. The manifest records the
``(writer_id, batch_id)`` that produced it, Spark's documented
foreachBatch dedup key: a batch equal to the latest manifest's is a
replay and is skipped whole. What a manifest maps and how a store
merges are the store's own.

The dedup sinks (near-dup, span, semantic) append data and commit a
single ``<path>/_meta.json`` holding the last applied batch id and
their layout parameters; ``last_batch`` reads it.
"""

from __future__ import annotations

import json
import os
import shutil


def write_json_atomic(path: str, obj) -> None:
    """Publish ``obj`` as JSON at ``path``: write a dot-prefixed temp
    file in the same directory, then rename it over ``path``."""
    parent, name = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


class CommitLog:
    """The manifest log of one versioned store rooted at ``path``; see
    the module docstring for the layout and protocol."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.commits_dir = os.path.join(path, "_commits")

    def names(self) -> list[str]:
        """File names of the published manifests, oldest first."""
        if not os.path.isdir(self.commits_dir):
            return []
        return sorted(
            f for f in os.listdir(self.commits_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def exists(self) -> bool:
        return bool(self.names())

    def load(self, version: "int | None" = None) -> dict | None:
        """The latest manifest, or an explicit ``version`` (every
        un-vacuumed version stays readable); None before the first
        commit."""
        names = self.names()
        if not names:
            return None
        if version is None:
            name = names[-1]
        else:
            name = f"v{version:08d}.json"
            if name not in names:
                raise FileNotFoundError(
                    f"no committed version {version} under {self.path} "
                    f"(available: {[int(n[1:-5]) for n in names]})"
                )
        with open(os.path.join(self.commits_dir, name)) as fh:
            return json.load(fh)

    @staticmethod
    def replays(base: dict | None, batch_id: int,
                writer_id: str | None) -> bool:
        """Whether ``base`` (the latest manifest) already committed
        this batch. Batch ids restart per streaming query, so a new
        checkpoint's batch 0 must not alias the old one's: the test is
        on the ``(writer_id, batch_id)`` pair. A negative batch id
        (backfill, restore, REST writes) never replays."""
        return (
            base is not None
            and batch_id >= 0
            and base.get("batch_id") == batch_id
            and base.get("writer_id") == writer_id
        )

    def commit(self, base: dict | None, fields: dict) -> None:
        """Publish ``fields`` as the version after ``base``, the
        manifest the caller read before writing its data (version 1
        when there is none)."""
        version = base["version"] + 1 if base is not None else 1
        write_json_atomic(
            os.path.join(self.commits_dir, f"v{version:08d}.json"),
            {**fields, "version": version},
        )

    def vacuum(self, keep_versions: int, live_commits) -> int:
        """Drop the manifests older than the last ``keep_versions``,
        then every ``data/commit-*`` dir that no kept manifest
        references (``live_commits(manifest)`` names a manifest's
        dirs). Manifests go first, so a crash mid-vacuum never leaves
        a manifest referencing deleted data. Maintenance only: no
        read depends on it. Returns the number of commit dirs removed.

        ``keep_versions`` must be >= 1: a store with no manifest is
        unreadable, so vacuuming down to nothing is never maintenance."""
        if keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        names = self.names()
        if not names:
            return 0
        keep = names[-keep_versions:]
        for n in names[: len(names) - len(keep)]:
            os.remove(os.path.join(self.commits_dir, n))
        live: set[str] = set()
        for n in keep:
            with open(os.path.join(self.commits_dir, n)) as fh:
                live.update(live_commits(json.load(fh)))
        removed = 0
        if os.path.isdir(self.data_dir):
            for e in os.listdir(self.data_dir):
                if e.startswith("commit-") and e not in live:
                    shutil.rmtree(os.path.join(self.data_dir, e))
                    removed += 1
        return removed


def _check_layout(meta: dict, want: dict, path: str) -> None:
    """Raise if a persisted store's layout parameters conflict with the
    sink re-opening it — probing a store laid out under different
    parameters (a different bucket modulus, window width, or hash
    scheme) silently skips data instead of failing."""
    for k, v in want.items():
        if k in meta and meta[k] != v:
            raise ValueError(
                f"store at {path} was written with {k}={meta[k]}; this "
                f"sink has {k}={v} — recreate the store or match the "
                "persisted value"
            )


def last_batch(path: str, layout: dict) -> int | None:
    """The batch id a dedup store at ``path`` last committed to its
    ``_meta.json`` (None before its first), after checking the
    persisted ``layout`` against the sink's."""
    meta_path = os.path.join(path, "_meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as fh:
        meta = json.load(fh)
    _check_layout(meta, layout, path)
    return meta["batch_id"]


def commit_batch(path: str, batch_id: int, layout: dict) -> None:
    """Commit ``batch_id`` as the dedup store's last applied batch,
    with its layout parameters (read back by ``last_batch``)."""
    write_json_atomic(
        os.path.join(path, "_meta.json"), {"batch_id": batch_id, **layout}
    )
