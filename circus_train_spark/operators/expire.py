"""Snapshot expiry — deferred deletion of unreachable files.

Retains the most recent ``keep_last`` snapshots (always including the
current head), those newer than ``older_than_ms``, the targets of named
refs, and staged write-audit-publish snapshots with their parents (see
``expire_snapshots``); every other snapshot is expired. A data/manifest
file is deleted only when **no retained snapshot references it** — the
anti-join of the expired file set against the live file set.

Reference analogue: Circus Train never deletes at replication time — replaced
locations are queued in a housekeeping database and removed only after a
grace period (``core/replica/HousekeepingCleanupLocationManager.java:56-92``,
``circus-train-housekeeping/.../HousekeepingRunner.java:56-75``, default
``P3D`` per README.md:539-554). Our snapshot log *is* that queue: files stay
on disk as long as any retained snapshot can still reach them, which is what
keeps time-travel reads and in-flight pinned readers safe.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from circus_train_spark.meta.catalog import TokenTable

OP = "expire_snapshots"


@dataclass
class ExpireResult:
    expired_snapshots: list[int]
    retained_snapshots: list[int]
    data_files_deleted: int
    manifest_files_deleted: int
    bytes_reclaimed: int
    duration_s: float


def expire_snapshots(
    table: TokenTable,
    keep_last: int = 2,
    older_than_ms: int | None = None,
    dry_run: bool = False,
    grace_period_ms: int = 0,
) -> ExpireResult:
    """Expire old snapshots; physically delete unreachable files — or, with
    ``grace_period_ms > 0``, *schedule* them into the housekeeping queue so
    a long-running reader pinned to a just-expired snapshot finishes its
    scan before the bytes disappear (reference: deletions deferred past a
    grace period, default P3D — ``HousekeepingRunner.java:56-75``,
    ``README.md:539-554``; run ``run_housekeeping`` to apply them).

    Retained: the last ``keep_last`` snapshot ids, the head, every snapshot
    at or after ``older_than_ms`` (when set), and every branch head and tag
    target (drop the ref to release it). A snapshot on no ref's ancestor
    chain whose parent is still stored branched off without being
    published: a staged (``stage_only``) snapshot, or a dropped branch's
    commit. It is retained together with its parent, whose file list the
    cherry-pick of a late ``publish`` reads, and expires only when
    ``older_than_ms`` is set and it is older than that (Iceberg's age-only
    expiry of unreferenced snapshots). A snapshot whose parent an earlier
    expiry deleted follows the rules above."""
    t0 = time.monotonic()
    snaps = table.log.snapshots()
    all_ids = sorted(snaps)
    head = table.log.current_id()
    refs = table.log.refs()
    pinned = [head] + [
        int(v["snapshot_id"]) for group in (refs["branches"], refs["tags"]) for v in group.values()
    ]

    retained = set(all_ids[-max(1, keep_last) :])
    retained.add(head)
    retained.update(sid for sid in pinned if sid in snaps)
    on_chain: set[int] = set()
    for sid in pinned:
        while sid in snaps and sid not in on_chain:
            on_chain.add(sid)
            sid = snaps[sid].parent_id
    for sid, s in snaps.items():
        if older_than_ms is not None and s.timestamp_ms >= older_than_ms:
            retained.add(sid)
        staged = sid not in on_chain and s.parent_id in snaps
        if staged and (older_than_ms is None or s.timestamp_ms >= older_than_ms):
            retained.update((sid, s.parent_id))
    expired = [sid for sid in all_ids if sid not in retained]
    if not expired:
        return ExpireResult([], sorted(retained), 0, 0, 0, time.monotonic() - t0)

    def _all_manifests(s) -> list[str]:
        # data manifests + merge-on-read delete manifests; both carry a
        # ``file_path`` column naming the files they reference
        return list(s.manifests) + list(s.summary.get("delete_manifests", []))

    live_manifests: set[str] = set()
    for sid in retained:
        live_manifests.update(_all_manifests(snaps[sid]))
    dead_manifests: set[str] = set()
    for sid in expired:
        dead_manifests.update(m for m in _all_manifests(snaps[sid]) if m not in live_manifests)

    live_files: set[str] = set()
    for m in live_manifests:
        live_files.update(pq.read_table(m, columns=["file_path"])["file_path"].to_pylist())
    dead_files: set[str] = set()
    for m in dead_manifests:
        for p in pq.read_table(m, columns=["file_path"])["file_path"].to_pylist():
            if p not in live_files:
                dead_files.add(p)

    bytes_reclaimed = 0
    if not dry_run:
        with table.lineage.run(OP) as run:
            if grace_period_ms > 0:
                from circus_train_spark.operators.housekeeping import schedule_deletions

                schedule_deletions(
                    table, sorted(dead_files) + sorted(dead_manifests)
                )
                bytes_reclaimed = 0  # reclaimed later by run_housekeeping
            else:
                for p in sorted(dead_files):
                    try:
                        bytes_reclaimed += os.path.getsize(p)
                        os.remove(p)
                    except FileNotFoundError:
                        pass
                for m in sorted(dead_manifests):
                    try:
                        os.remove(m)
                    except FileNotFoundError:
                        pass
            for sid in expired:
                table.log.delete(sid)
            run.record(
                group_id=f"expire-{min(expired)}-{max(expired)}",
                files_in=sorted(dead_files),
                bytes_in=bytes_reclaimed,
            )
    return ExpireResult(
        expired_snapshots=sorted(expired),
        retained_snapshots=sorted(retained),
        data_files_deleted=len(dead_files),
        manifest_files_deleted=len(dead_manifests),
        bytes_reclaimed=bytes_reclaimed,
        duration_s=time.monotonic() - t0,
    )
