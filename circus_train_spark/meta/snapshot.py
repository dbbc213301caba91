"""Snapshot log: immutable JSON snapshot descriptors + one compare-and-swap
of the refs. Every rule of the log lives here, once; a catalog adapter
(``adapter.py``) supplies storage only.

Semantics (Iceberg-style, built from scratch):

- every commit **puts a new descriptor** naming the full list of manifest
  files that make up the table at that version. The put is
  put-if-absent: of two writers that picked the same snapshot id one wins,
  and the other gets ``CommitConflictError`` with the winner's descriptor
  untouched;
- the refs — ``main`` (the table head, a reserved name), named branches and
  immutable tags — move only by **compare-and-swap**: one locked
  read-modify-write in which the ref must still hold the snapshot the
  committer planned on, or the commit raises ``CommitConflictError`` and
  the caller re-plans;
- a commit's ``check`` runs between the put and the swap, so a failed check
  never moves a ref. A commit that does not publish deletes its own
  descriptor and no other.

On POSIX the put is a fsynced temp file hard-linked (``os.link``) to its
final name, and the swap is ``flock`` + ``os.replace`` of the pointer file.
On an object store the put is a conditional put (``If-None-Match: *``) and
the swap a conditional put of the pointer object (``If-Match`` on the ETag
it read), so neither needs a lock service.

Reference analogue: Circus Train never mutates live data in place — each run
writes to a unique event-id folder and commits by metastore pointer update
(``core/replica/FullReplicationReplicaLocationManager.java:58-97``), with the
rename-based two-step swap of ``RenameTableOperation.java:42-70``; old
locations are deleted later by housekeeping.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: table head moved under the committer."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    event_id: str
    timestamp_ms: int
    operation: str
    manifests: list[str] = field(default_factory=list)
    summary: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "event_id": self.event_id,
                "timestamp_ms": self.timestamp_ms,
                "operation": self.operation,
                "manifests": self.manifests,
                "summary": self.summary,
            },
            indent=1,
        )

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        d = json.loads(text)
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            event_id=d.get("event_id", ""),
            timestamp_ms=d.get("timestamp_ms", 0),
            operation=d.get("operation", ""),
            manifests=list(d.get("manifests", [])),
            summary=dict(d.get("summary", {})),
        )


MAIN_BRANCH = "main"
REF_KINDS = ("branches", "tags")


def _now_ms() -> int:
    return int(time.time() * 1000)


def _check_ref(kind: str, name: str) -> None:
    if kind not in REF_KINDS:
        raise ValueError(f"unknown ref kind {kind!r}; expected one of {REF_KINDS}")
    if name == MAIN_BRANCH:
        raise ValueError("'main' is the implicit head ref; use commit/rollback")


class SnapshotLog:
    """The rules of the snapshot log. A catalog adapter subclasses it and
    supplies the storage methods of ``adapter.CatalogAdapter`` (``get``,
    ``all_snapshot_ids``, ``put_if_absent``, ``delete``, ``read_refs``,
    ``update_refs``); everything below is written once, in terms of them."""

    # -- reads ------------------------------------------------------------
    def current_id(self) -> int | None:
        return self.read_refs()[MAIN_BRANCH]

    def current(self) -> Snapshot | None:
        sid = self.current_id()
        return None if sid is None else self.get(sid)

    def refs(self) -> dict:
        """``{"branches": {name: {"snapshot_id": id, ...}}, "tags": {...}}``;
        ``main`` is the head, not a named ref."""
        refs = self.read_refs()
        del refs[MAIN_BRANCH]
        return refs

    def branch_head(self, branch: str = MAIN_BRANCH) -> int | None:
        refs = self.read_refs()
        if branch == MAIN_BRANCH:
            return refs[MAIN_BRANCH]
        b = refs["branches"].get(branch)
        return None if b is None else int(b["snapshot_id"])

    def snapshots(self) -> dict[int, Snapshot]:
        """Every stored descriptor by id. One deleted between the listing
        and its read (a commit that lost its race) is skipped."""
        out = {}
        for sid in self.all_snapshot_ids():
            try:
                out[sid] = self.get(sid)
            except FileNotFoundError:
                pass
        return out

    def history(self) -> list[Snapshot]:
        """Ancestor chain of the current snapshot, oldest first. Stops at the
        oldest *retained* ancestor (expiry deletes older descriptors)."""
        chain: list[Snapshot] = []
        sid = self.current_id()
        while sid is not None:
            try:
                snap = self.get(sid)
            except FileNotFoundError:
                break
            chain.append(snap)
            sid = snap.parent_id
        return list(reversed(chain))

    def next_id(self) -> int:
        """Next snapshot id: one past every stored descriptor (branch and
        staged ones included) and the head. Two writers may pick the same
        id; ``put_if_absent`` lets one of them win."""
        return max([*self.all_snapshot_ids(), self.current_id() or 0]) + 1

    # -- refs (named branches & tags, Iceberg-style) ------------------------
    def set_ref(self, kind: str, name: str, snapshot_id: int) -> None:
        """Create or move a branch, or create a tag. Tags are immutable:
        re-pointing an existing tag raises ``ValueError``."""
        _check_ref(kind, name)

        def move(refs: dict) -> None:
            prev = refs[kind].get(name)
            if kind == "tags" and prev and prev["snapshot_id"] != snapshot_id:
                raise ValueError(
                    f"tag {name!r} already points at {prev['snapshot_id']}; "
                    "tags are immutable (drop it first)"
                )
            refs[kind][name] = {"snapshot_id": int(snapshot_id), "created_ms": _now_ms()}

        self.update_refs(move)

    def drop_ref(self, kind: str, name: str) -> None:
        _check_ref(kind, name)
        self.update_refs(lambda refs: refs[kind].pop(name, None))

    def _swap(self, branch: str, expected: int | None, snapshot_id: int) -> None:
        """Compare-and-swap ``branch`` from ``expected`` to ``snapshot_id``
        (a missing branch counts as ``None`` and is created)."""

        def cas(refs: dict) -> None:
            named = refs["branches"].get(branch, {})
            cur = refs[MAIN_BRANCH] if branch == MAIN_BRANCH else named.get("snapshot_id")
            if cur != expected:
                raise CommitConflictError(
                    f"expected {branch} head {expected}, found {cur}; re-plan and retry"
                )
            if branch == MAIN_BRANCH:
                refs[MAIN_BRANCH] = snapshot_id
            else:
                refs["branches"][branch] = {
                    "snapshot_id": snapshot_id,
                    "created_ms": named.get("created_ms", _now_ms()),
                }

        self.update_refs(cas)

    def fast_forward(self, to_snapshot_id: int, expected_head: int | None) -> None:
        """Move the main head from ``expected_head`` to ``to_snapshot_id``,
        which must be its direct child (the publish half of
        write-audit-publish). Raises CommitConflictError when the head
        moved or the snapshot sits on another parent."""
        if self.get(to_snapshot_id).parent_id != expected_head:
            raise CommitConflictError(
                f"snapshot {to_snapshot_id} is not a child of head {expected_head}; "
                "cherry-pick instead"
            )
        self._swap(MAIN_BRANCH, expected_head, to_snapshot_id)

    # -- writes -----------------------------------------------------------
    def commit(
        self,
        *,
        expected_parent_id: int | None,
        event_id: str,
        operation: str,
        manifests: list[str],
        summary: dict,
        branch: str = MAIN_BRANCH,
        stage_only: bool = False,
        snapshot_id: int | None = None,
        check: Callable[[Snapshot], None] | None = None,
    ) -> Snapshot:
        """Put a new descriptor on ``expected_parent_id``, run ``check`` on
        it, then compare-and-swap ``branch`` (``main`` = the table head)
        from ``expected_parent_id`` to it. A taken id or a moved branch
        raises ``CommitConflictError``.

        ``stage_only`` stops after the check: the descriptor is stored
        but no ref moves — the write half of write-audit-publish; readers
        audit it by id, ``fast_forward`` or a cherry-pick publishes it.

        ``snapshot_id`` lets the caller pre-allocate the id it stamped into
        manifest entries (``added_snapshot_id``); a stale pre-allocation is
        a conflict, so the caller's rebase loop re-stamps and retries.

        If ``check`` or the swap raises, the descriptor this call put is
        deleted and the error propagates.
        """
        snap = Snapshot(
            snapshot_id=self.next_id() if snapshot_id is None else snapshot_id,
            parent_id=expected_parent_id,
            event_id=event_id,
            timestamp_ms=_now_ms(),
            operation=operation,
            manifests=list(manifests),
            summary=summary,
        )
        self.put_if_absent(snap)
        try:
            if check is not None:
                check(snap)
            if not stage_only:
                self._swap(branch, expected_parent_id, snap.snapshot_id)
        except BaseException:
            self.delete(snap.snapshot_id)
            raise
        return snap
