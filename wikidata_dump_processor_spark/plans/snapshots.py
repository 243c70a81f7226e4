"""Snapshot catalog behind the StageManifest (VERDICT r5 #4).

Stage outputs are directories of part files; a committed stage's file
list IS its snapshot identity — what Iceberg's snapshot log tracks
natively (MIGRATION.md "The Iceberg seam").  ``JsonSnapshotCatalog``
makes that snapshot a first-class object: a ``_snapshots.json`` log per
output dir, one entry per commit holding the stage's full file list
(the list the stage writer already produced for its lineage metrics),
committed with the same atomic ``os.replace`` discipline as the
manifest.  Snapshot ids, time travel (``read_at``) and St3
``start-snapshot-id`` incremental reads (``read_delta``) key on it.

``open_catalog`` is the seam a real catalog plugs into.  No Iceberg
runtime (pyiceberg or an iceberg-spark-runtime jar) ships with this
repository, so the JSON log is the only backend: a backend tests cannot
execute is not kept.

Reads at scale: ``read_at``/``read_delta`` pass explicit file lists to
``spark.read.parquet`` — the exact pattern ``new_snapshot_only``
(streaming/incremental.py) already uses, now keyed on a snapshot id
instead of a caller-carried seen-files set.
"""

from __future__ import annotations

import json
import os
import time


class JsonSnapshotCatalog:
    """Snapshot log as a JSON side file — the no-dependency backend.

    ``commit`` records the stage's CURRENT full file set (overwrite and
    append writes both reduce to "this is the committed state"); ids
    are monotonically increasing ints per stage."""

    backend = "json"

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_snapshots.json")
        os.makedirs(root, exist_ok=True)
        self.log: dict[str, list[dict]] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.log = json.load(f)

    def commit(
        self, stage: str, path: str, files: list[str], fingerprint: str = ""
    ) -> int:
        """Record ``files`` (paths relative to ``path``) as the stage's
        next snapshot."""
        snaps = self.log.setdefault(stage, [])
        sid = (snaps[-1]["id"] + 1) if snaps else 1
        snaps.append(
            {
                "id": sid,
                "fingerprint": fingerprint,
                "ts": time.time(),
                "files": sorted(files),
                "path": path,
            }
        )
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.log, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)  # atomic, like the manifest
        return sid

    def snapshot_ids(self, stage: str) -> list[int]:
        return [s["id"] for s in self.log.get(stage, [])]

    def current_snapshot_id(self, stage: str) -> int | None:
        ids = self.snapshot_ids(stage)
        return ids[-1] if ids else None

    def files_at(self, stage: str, snapshot_id: int) -> set[str]:
        for s in self.log.get(stage, []):
            if s["id"] == snapshot_id:
                return {os.path.join(s["path"], f) for f in s["files"]}
        raise KeyError(f"stage {stage!r} has no snapshot {snapshot_id}")


def open_catalog(root: str, backend: str = "json"):
    if backend == "json":
        return JsonSnapshotCatalog(root)
    raise ValueError(f"unknown snapshot backend {backend!r}")


def read_at(spark, cat, stage: str, snapshot_id: int, schema=None):
    """Time travel: the stage AS OF a snapshot id — Spark scans exactly
    that snapshot's file set."""
    files = sorted(cat.files_at(stage, snapshot_id))
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if not files:
        raise ValueError(f"snapshot {snapshot_id} of {stage!r} is empty")
    return r.parquet(*files)


def read_delta(spark, cat, stage: str, since_snapshot_id: int, schema=None):
    """St3 incremental read, Iceberg's ``start-snapshot-id`` shape: only
    the files ADDED after ``since_snapshot_id`` (empty DataFrame with
    the current snapshot's schema when nothing is new)."""
    cur = cat.current_snapshot_id(stage)
    base = cat.files_at(stage, since_snapshot_id)
    now = cat.files_at(stage, cur) if cur is not None else set()
    new = sorted(now - base)
    if not new:
        if schema is not None:
            return spark.createDataFrame([], schema)
        if not (now or base):
            # JsonSnapshotCatalog.commit permits zero-file commits; with
            # no schema and no files anywhere there is nothing to infer
            # from — raise clearly instead of letting
            # spark.read.parquet() fail on an empty path list (ADVICE r6)
            raise ValueError(
                f"stage {stage!r} has no files in either snapshot and no "
                "schema was given — pass schema= to read an empty delta"
            )
        ref = spark.read.parquet(*sorted(now or base)).schema
        return spark.createDataFrame([], ref)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(*new)
