"""Pluggable catalog adapters — the MetaStoreClientFactory analogue.

Circus Train talks to its catalogs through a pluggable factory so users can
swap the metastore protocol (``README.md:743-750``; the AWS module's Glue
support is exactly such a plug-in). Our table keeps the same seam, placed at
storage: an adapter stores snapshot descriptors and refs and nothing else.
Commit, staging, checks, fast-forward, branches, tags and id allocation are
``SnapshotLog``'s rules (``snapshot.py``), which every adapter inherits.

The storage methods (``CatalogAdapter``):

- ``get(sid)`` / ``all_snapshot_ids()`` / ``delete(sid)`` — read, list and
  remove descriptors (``get`` raises ``FileNotFoundError`` for a missing
  one; ``delete`` of a missing one is a no-op);
- ``put_if_absent(snapshot)`` — store a descriptor under its id, or raise
  ``CommitConflictError`` when the id is taken;
- ``read_refs()`` — ``{"main": head id or None, "branches": {...},
  "tags": {...}}``, a copy the caller may keep;
- ``update_refs(fn)`` — one locked read-modify-write: ``fn`` mutates a copy
  of ``read_refs()``, and the result is stored atomically unless ``fn``
  raises.

Two adapters ship:

- ``FileCatalog`` — the filesystem layout: ``metadata/snapshots/
  snap-<id>.json`` put by ``os.link`` of a fsynced temp file, the head in
  ``metadata/version-hint.text`` and branches/tags in ``metadata/refs.json``,
  both replaced by ``os.replace`` under ``flock`` on
  ``metadata/commit.lock``;
- ``InMemoryCatalog`` — a dict store (tests, and the template for a
  Hive/Glue/REST adapter), refs swapped under a ``threading.Lock``.
"""

from __future__ import annotations

import copy
import fcntl
import json
import os
import threading
import uuid
from collections.abc import Callable
from typing import Protocol, runtime_checkable

from circus_train_spark.meta import schema as S
from circus_train_spark.meta.snapshot import (
    MAIN_BRANCH,
    REF_KINDS,
    CommitConflictError,
    Snapshot,
    SnapshotLog,
)


@runtime_checkable
class CatalogAdapter(Protocol):
    def get(self, snapshot_id: int) -> Snapshot: ...

    def all_snapshot_ids(self) -> list[int]: ...

    def put_if_absent(self, snapshot: Snapshot) -> None: ...

    def delete(self, snapshot_id: int) -> None: ...

    def read_refs(self) -> dict: ...

    def update_refs(self, fn: Callable[[dict], None]) -> None: ...


def _taken(snapshot_id: int) -> CommitConflictError:
    return CommitConflictError(f"snapshot id {snapshot_id} was taken by a concurrent commit")


def _write_temp(path: str, text: str) -> str:
    """A fsynced sibling temp file holding ``text``; returns its path."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    return tmp


class FileCatalog(SnapshotLog):
    """Filesystem store for one table root."""

    def __init__(self, root: str):
        self.snapshot_dir = os.path.join(root, S.SNAPSHOT_DIR)
        self.hint_path = os.path.join(root, S.VERSION_HINT)
        self.lock_path = os.path.join(root, S.COMMIT_LOCK)
        self.refs_path = os.path.join(root, S.REFS_FILE)

    def _path(self, snapshot_id: int) -> str:
        return os.path.join(self.snapshot_dir, f"snap-{snapshot_id:012d}.json")

    def get(self, snapshot_id: int) -> Snapshot:
        with open(self._path(snapshot_id)) as f:
            return Snapshot.from_json(f.read())

    def all_snapshot_ids(self) -> list[int]:
        try:
            names = os.listdir(self.snapshot_dir)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[len("snap-") : -len(".json")])
            for n in names
            if n.startswith("snap-") and n.endswith(".json")
        )

    def put_if_absent(self, snapshot: Snapshot) -> None:
        os.makedirs(self.snapshot_dir, exist_ok=True)
        path = self._path(snapshot.snapshot_id)
        tmp = _write_temp(path, snapshot.to_json())
        try:
            os.link(tmp, path)  # atomic, and fails if the name exists
        except FileExistsError:
            raise _taken(snapshot.snapshot_id) from None
        finally:
            os.remove(tmp)

    def delete(self, snapshot_id: int) -> None:
        try:
            os.remove(self._path(snapshot_id))
        except FileNotFoundError:
            pass

    def read_refs(self) -> dict:
        try:
            with open(self.hint_path) as f:
                head = f.read().strip()
        except FileNotFoundError:
            head = ""
        try:
            with open(self.refs_path) as f:
                named = json.load(f)
        except FileNotFoundError:
            named = {}
        return {
            MAIN_BRANCH: int(head) if head else None,
            **{k: named.get(k, {}) for k in REF_KINDS},
        }

    def update_refs(self, fn: Callable[[dict], None]) -> None:
        os.makedirs(os.path.dirname(self.lock_path), exist_ok=True)
        with open(self.lock_path, "a") as lock:
            fcntl.flock(lock.fileno(), fcntl.LOCK_EX)  # released on close
            old = self.read_refs()
            new = copy.deepcopy(old)
            fn(new)
            if new[MAIN_BRANCH] != old[MAIN_BRANCH]:
                os.replace(_write_temp(self.hint_path, str(new[MAIN_BRANCH])), self.hint_path)
            named = {k: new[k] for k in REF_KINDS}
            if named != {k: old[k] for k in REF_KINDS}:
                os.replace(
                    _write_temp(self.refs_path, json.dumps(named, indent=1)), self.refs_path
                )


class InMemoryCatalog(SnapshotLog):
    """Dict store: descriptors in a dict, refs in one dict that an update
    replaces wholesale under a lock."""

    def __init__(self):
        self._snaps: dict[int, Snapshot] = {}
        self._refs: dict = {MAIN_BRANCH: None, **{k: {} for k in REF_KINDS}}
        self._lock = threading.Lock()

    def get(self, snapshot_id: int) -> Snapshot:
        try:
            return self._snaps[snapshot_id]
        except KeyError:
            raise FileNotFoundError(f"no snapshot {snapshot_id}") from None

    def all_snapshot_ids(self) -> list[int]:
        return sorted(self._snaps)

    def put_if_absent(self, snapshot: Snapshot) -> None:
        with self._lock:
            if snapshot.snapshot_id in self._snaps:
                raise _taken(snapshot.snapshot_id)
            self._snaps[snapshot.snapshot_id] = snapshot

    def delete(self, snapshot_id: int) -> None:
        self._snaps.pop(snapshot_id, None)

    def read_refs(self) -> dict:
        return copy.deepcopy(self._refs)

    def update_refs(self, fn: Callable[[dict], None]) -> None:
        with self._lock:
            refs = copy.deepcopy(self._refs)
            fn(refs)
            self._refs = refs
