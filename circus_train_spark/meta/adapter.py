"""Pluggable catalog adapters — the MetaStoreClientFactory analogue.

Circus Train talks to its catalogs through a pluggable factory so users can
swap the metastore protocol (``README.md:743-750``; the AWS module's Glue
support is exactly such a plug-in). Our table keeps the same seam: every
snapshot-log interaction goes through the ``CatalogAdapter`` protocol below.

- ``SnapshotLog`` (``snapshot.py``) is the filesystem implementation —
  atomic pointer swap via flock + os.replace.
- ``InMemoryCatalog`` here is the alternate implementation (used in tests
  and as the template for a real Hive/Glue/REST adapter): same optimistic
  parent check, same Snapshot descriptors, no filesystem.

An adapter must provide: ``current_id() / current() / get(sid) /
all_snapshot_ids() / history() / snapshot_path(sid) / delete_snapshot(sid) /
commit(expected_parent_id, event_id, operation, manifests, summary) /
fast_forward(sid, expected_head)`` (checked commits and WAP publish).
"""

from __future__ import annotations

import threading
import time
from typing import Protocol, runtime_checkable

from circus_train_spark.meta.snapshot import CommitConflictError, Snapshot


@runtime_checkable
class CatalogAdapter(Protocol):
    def current_id(self) -> int | None: ...

    def current(self) -> Snapshot | None: ...

    def get(self, snapshot_id: int) -> Snapshot: ...

    def all_snapshot_ids(self) -> list[int]: ...

    def history(self) -> list[Snapshot]: ...

    def delete_snapshot(self, snapshot_id: int) -> None: ...

    def commit(
        self,
        *,
        expected_parent_id: int | None,
        event_id: str,
        operation: str,
        manifests: list[str],
        summary: dict,
        branch: str = "main",
        stage_only: bool = False,
        snapshot_id: int | None = None,
    ) -> Snapshot: ...

    def refs(self) -> dict: ...

    def branch_head(self, branch: str = "main") -> int | None: ...

    def next_id(self) -> int: ...

    def fast_forward(self, to_snapshot_id: int, expected_head: int | None) -> None: ...


class InMemoryCatalog:
    """Non-filesystem catalog: snapshots live in a dict, the pointer swap is
    a lock-guarded compare-and-set. Mirrors SnapshotLog's semantics exactly
    (optimistic parent check -> CommitConflictError)."""

    def __init__(self):
        self._snaps: dict[int, Snapshot] = {}
        self._head: int | None = None
        self._refs: dict = {"branches": {}, "tags": {}}
        self._lock = threading.Lock()

    def current_id(self) -> int | None:
        return self._head

    def current(self) -> Snapshot | None:
        return None if self._head is None else self._snaps[self._head]

    def get(self, snapshot_id: int) -> Snapshot:
        try:
            return self._snaps[snapshot_id]
        except KeyError:
            raise FileNotFoundError(f"no snapshot {snapshot_id}") from None

    def all_snapshot_ids(self) -> list[int]:
        return sorted(self._snaps)

    def history(self) -> list[Snapshot]:
        chain: list[Snapshot] = []
        sid = self._head
        while sid is not None and sid in self._snaps:
            snap = self._snaps[sid]
            chain.append(snap)
            sid = snap.parent_id
        return list(reversed(chain))

    def snapshot_path(self, snapshot_id: int) -> str:
        return f"memory://snapshots/{snapshot_id}"

    def delete_snapshot(self, snapshot_id: int) -> None:
        self._snaps.pop(snapshot_id, None)

    # -- refs (mirror SnapshotLog semantics) --------------------------------
    def refs(self) -> dict:
        return {k: dict(v) for k, v in self._refs.items()}

    def branch_head(self, branch: str = "main") -> int | None:
        if branch == "main":
            return self._head
        b = self._refs["branches"].get(branch)
        return None if b is None else int(b["snapshot_id"])

    def next_id(self) -> int:
        hi = max(self._snaps) if self._snaps else 0
        if self._head is not None and self._head > hi:
            hi = self._head
        return hi + 1

    def set_ref(self, kind: str, name: str, snapshot_id: int) -> None:
        with self._lock:
            prev = self._refs[kind].get(name)
            if kind == "tags" and prev and prev["snapshot_id"] != snapshot_id:
                raise ValueError(f"tag {name!r} is immutable")
            self._refs[kind][name] = {
                "snapshot_id": int(snapshot_id),
                "created_ms": int(time.time() * 1000),
            }

    def drop_ref(self, kind: str, name: str) -> None:
        with self._lock:
            self._refs[kind].pop(name, None)

    def fast_forward(self, to_snapshot_id: int, expected_head: int | None) -> None:
        with self._lock:
            if self._head != expected_head:
                raise CommitConflictError(
                    f"expected head {expected_head}, found {self._head}"
                )
            if self.get(to_snapshot_id).parent_id != self._head:
                raise CommitConflictError(
                    f"snapshot {to_snapshot_id} is not a child of head {self._head}"
                )
            self._head = to_snapshot_id

    def commit(
        self,
        *,
        expected_parent_id: int | None,
        event_id: str,
        operation: str,
        manifests: list[str],
        summary: dict,
        branch: str = "main",
        stage_only: bool = False,
        snapshot_id: int | None = None,
    ) -> Snapshot:
        with self._lock:
            cur = self._head if branch == "main" else (
                None
                if self._refs["branches"].get(branch) is None
                else int(self._refs["branches"][branch]["snapshot_id"])
            )
            if cur != expected_parent_id:
                raise CommitConflictError(
                    f"expected {branch} head {expected_parent_id}, found {cur}"
                )
            new_id = self.next_id() if snapshot_id is None else snapshot_id
            if new_id in self._snaps:
                raise CommitConflictError(
                    f"snapshot id {new_id} was taken by a concurrent commit"
                )
            snap = Snapshot(
                snapshot_id=new_id,
                parent_id=cur,
                event_id=event_id,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                manifests=list(manifests),
                summary=summary,
            )
            self._snaps[new_id] = snap
            if not stage_only:
                if branch == "main":
                    self._head = new_id
                else:
                    entry = self._refs["branches"].setdefault(
                        branch, {"created_ms": int(time.time() * 1000)}
                    )
                    entry["snapshot_id"] = new_id
            return snap
