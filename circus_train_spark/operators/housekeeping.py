"""Deferred deletion + orphan-file cleanup — the housekeeping pipeline.

Circus Train never deletes replaced data at replication time: paths are
*scheduled* into a housekeeping database
(``core/replica/HousekeepingCleanupLocationManager.java:56-92``) and a
separate runner deletes only entries older than a grace period (default
``P3D``: ``circus-train-housekeeping/.../HousekeepingRunner.java:56-75``,
``README.md:539-554``). That two-phase design is what keeps long-running
readers safe: a reader pinned to a just-replaced location finishes its scan
before the bytes disappear.

This module re-expresses both halves for token tables:

- ``schedule_deletions`` / ``run_housekeeping`` — the deferred-delete queue.
  ``expire_snapshots(grace_period_ms=...)`` schedules instead of deleting;
  ``run_housekeeping`` physically removes entries whose *schedule time* (the
  unreference time, not the file mtime) is older than the grace period.
- ``remove_orphan_files`` — crash hygiene. A run that dies after writing
  data files but before its atomic commit leaves parquet referenced by NO
  snapshot; nothing else ever deletes those. Orphans are discovered by
  diffing the on-disk tree against the union of every retained snapshot's
  manifest entries, age-gated by mtime (an in-flight writer's fresh files
  must survive), and never touch paths still pending in the housekeeping
  queue.

Scale note: orphan discovery is driver-side set arithmetic over *file
paths* (metadata-sized — same altitude as Iceberg's
``RemoveOrphanFiles``); the filesystem walk and manifest reads are the only
I/O, and no data bytes are read.
"""

from __future__ import annotations

import fcntl
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.parquet as pq

from circus_train_spark.ids import new_event_id
from circus_train_spark.meta.catalog import TokenTable

OP_ORPHAN = "remove_orphan_files"
OP_HOUSEKEEPING = "housekeeping"

# reference default grace: P3D (README.md:539-554)
DEFAULT_GRACE_MS = 3 * 24 * 3600 * 1000

# NOTE: LineageLog writes lineage/<operation>.jsonl — the queue must not
# collide with the OP_HOUSEKEEPING lineage file.
_QUEUE_FILE = "housekeeping-queue.jsonl"


@dataclass
class OrphanResult:
    files_deleted: int
    bytes_reclaimed: int
    files_skipped_young: int
    files_skipped_scheduled: int
    duration_s: float


@dataclass
class HousekeepingResult:
    files_deleted: int
    bytes_reclaimed: int
    files_pending: int
    duration_s: float


def _queue_path(table: TokenTable) -> str:
    return os.path.join(table.root, "lineage", _QUEUE_FILE)


@contextmanager
def _queue_lock(table: TokenTable):
    """Advisory flock serializing queue mutations — the same posture as
    SnapshotLog commits. Without it, a concurrent ``schedule_deletions``
    append between ``run_housekeeping``'s read and its ``os.replace`` would
    be silently dropped (losing that path's grace-clock entry)."""
    lock_path = _queue_path(table) + ".lock"
    os.makedirs(os.path.dirname(lock_path), exist_ok=True)
    with open(lock_path, "a") as lock:
        fcntl.flock(lock.fileno(), fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lock.fileno(), fcntl.LOCK_UN)


def schedule_deletions(
    table: TokenTable, paths: list[str], event_id: str | None = None
) -> int:
    """Queue paths for deferred deletion (the H2 ``legacy_replica_path``
    insert of ``HousekeepingCleanupLocationManager.scheduleLocations``)."""
    if not paths:
        return 0
    event_id = event_id or new_event_id()
    now_ms = int(time.time() * 1000)
    qp = _queue_path(table)
    with _queue_lock(table), open(qp, "a") as f:
        for p in sorted(paths):
            f.write(
                json.dumps(
                    {"path": p, "event_id": event_id, "scheduled_at_ms": now_ms}
                )
                + "\n"
            )
    return len(paths)


def pending_deletions(table: TokenTable) -> list[dict]:
    qp = _queue_path(table)
    if not os.path.exists(qp):
        return []
    out = []
    with open(qp) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def run_housekeeping(
    table: TokenTable,
    grace_period_ms: int = DEFAULT_GRACE_MS,
    now_ms: int | None = None,
) -> HousekeepingResult:
    """Delete queued paths scheduled before ``now - grace_period_ms`` —
    the ``HousekeepingRunner.run`` cutoff semantics. Entries younger than
    the grace period stay queued (rewritten atomically)."""
    t0 = time.monotonic()
    now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    cutoff = now_ms - grace_period_ms
    deleted = 0
    bytes_reclaimed = 0
    with table.lineage.run(OP_HOUSEKEEPING) as run, _queue_lock(table):
        entries = pending_deletions(table)
        due = [e for e in entries if e["scheduled_at_ms"] <= cutoff]
        keep = [e for e in entries if e["scheduled_at_ms"] > cutoff]
        for e in due:
            p = e["path"]
            try:
                bytes_reclaimed += os.path.getsize(p)
                os.remove(p)
                deleted += 1
            except FileNotFoundError:
                pass
        qp = _queue_path(table)
        if entries:
            tmp = f"{qp}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                for e in keep:
                    f.write(json.dumps(e) + "\n")
            os.replace(tmp, qp)
        if due:
            run.record(
                group_id=f"hk-{now_ms}",
                files_in=sorted(e["path"] for e in due),
                bytes_in=bytes_reclaimed,
            )
    return HousekeepingResult(
        files_deleted=deleted,
        bytes_reclaimed=bytes_reclaimed,
        files_pending=len(keep),
        duration_s=time.monotonic() - t0,
    )


def _referenced_files(table: TokenTable) -> tuple[set[str], set[str]]:
    """(data files, manifest files) reachable from ANY retained snapshot."""
    data: set[str] = set()
    manifests: set[str] = set()
    for snap in table.log.snapshots().values():
        # data manifests + merge-on-read delete manifests; the latter's
        # file_path column names equality-delete key files (under data/),
        # which are live for exactly as long as a snapshot references them
        for m in list(snap.manifests) + list(
            snap.summary.get("delete_manifests", [])
        ):
            manifests.add(os.path.abspath(m))
            try:
                col = pq.read_table(m, columns=["file_path"])["file_path"]
            except FileNotFoundError:
                continue
            data.update(os.path.abspath(p) for p in col.to_pylist())
    return data, manifests


def remove_orphan_files(
    table: TokenTable,
    grace_period_ms: int = DEFAULT_GRACE_MS,
    now_ms: int | None = None,
    dry_run: bool = False,
) -> OrphanResult:
    """Delete files under the table root referenced by no snapshot.

    Age gate: only files whose mtime is older than ``grace_period_ms`` are
    touched, so a concurrent writer's staged-but-not-yet-committed output
    survives. Paths pending in the housekeeping queue are governed by
    *their* grace clock and are skipped here.
    """
    t0 = time.monotonic()
    now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    cutoff_s = (now_ms - grace_period_ms) / 1000.0
    live_data, live_manifests = _referenced_files(table)
    scheduled = {os.path.abspath(e["path"]) for e in pending_deletions(table)}

    candidates: list[str] = []
    for p in table._walk_parquet(table.data_dir):
        ap = os.path.abspath(p)
        if ap not in live_data:
            candidates.append(ap)
    for base, _dirs, names in os.walk(table.manifest_dir):
        for n in names:
            if n.endswith(".parquet"):
                ap = os.path.abspath(os.path.join(base, n))
                if ap not in live_manifests:
                    candidates.append(ap)
    # schema artifacts: referenced by snapshot summaries, any extension
    live_artifacts: set[str] = set()
    for snap in table.log.snapshots().values():
        for rel in snap.summary.get("artifacts", {}).values():
            live_artifacts.add(os.path.abspath(os.path.join(table.root, rel)))
    art_dir = os.path.join(table.root, table.ARTIFACT_DIR)
    if os.path.isdir(art_dir):
        for base, _dirs, names in os.walk(art_dir):
            for n in names:
                ap = os.path.abspath(os.path.join(base, n))
                if ap not in live_artifacts:
                    candidates.append(ap)

    deleted = 0
    bytes_reclaimed = 0
    skipped_young = 0
    skipped_sched = 0
    removed_paths: list[str] = []
    with table.lineage.run(OP_ORPHAN) as run:
        for p in sorted(candidates):
            if p in scheduled:
                skipped_sched += 1
                continue
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            if st.st_mtime > cutoff_s:
                skipped_young += 1
                continue
            if not dry_run:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    continue
            bytes_reclaimed += st.st_size
            deleted += 1
            removed_paths.append(p)
        if deleted and not dry_run:
            run.record(
                group_id=f"orphan-{now_ms}",
                files_in=removed_paths,
                bytes_in=bytes_reclaimed,
            )
    return OrphanResult(
        files_deleted=deleted,
        bytes_reclaimed=bytes_reclaimed,
        files_skipped_young=skipped_young,
        files_skipped_scheduled=skipped_sched,
        duration_s=time.monotonic() - t0,
    )
