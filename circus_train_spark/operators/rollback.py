"""Rollback — point the table head back at a retained snapshot.

Implemented as a NEW commit whose manifest list is the target snapshot's
(never a pointer mutation), so the operation is itself atomic, append-only
in the log, auditable in ``history``, and safely concurrent with other
committers via the usual optimistic check. This is the recovery half of the
reference's rename-based cutover (``core/.../RenameTableOperation.java:42-70``
swaps a table to a previous location; our snapshot log makes every previous
state addressable, so recovery is one metadata commit).

Only *retained* snapshots are valid targets: snapshot expiry deletes both
the descriptor and any files no retained snapshot references, so a rollback
past the expiry horizon raises ``FileNotFoundError`` up front instead of
producing a table of dangling paths.
"""

from __future__ import annotations

from circus_train_spark.meta.catalog import TokenTable, carry_state
from circus_train_spark.meta.snapshot import Snapshot

OP = "rollback"


def rollback(table: TokenTable, snapshot_id: int, run_id: str | None = None) -> Snapshot:
    """Restore the table to the state of ``snapshot_id`` via a new commit.

    Metadata-only and O(1) in data size: no data file is read, moved, or
    rewritten — the new snapshot simply references the target's manifests.
    """
    head = table.current_snapshot()
    if snapshot_id == head.snapshot_id:
        return head
    target = table.snapshot(snapshot_id)  # raises if expired/unknown
    summary = {
        "rolled_back_to": snapshot_id,
        "rolled_back_from": head.snapshot_id,
    }
    # restore the state AS OF the target snapshot, not the head's: its
    # schema, artifacts, views and pending merge-on-read deletes
    summary["schema"] = table.data_schema(snapshot_id).json()
    carry_state(target, summary)
    with table.lineage.run(OP, run_id) as run:
        snap = table.log.commit(
            expected_parent_id=head.snapshot_id,
            event_id=run.run_id,
            operation=OP,
            manifests=list(target.manifests),
            summary=summary,
        )
        for fn in table.commit_listeners:
            fn(snap)
        run.record()
    return snap
