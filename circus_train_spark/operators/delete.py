"""Row-level DELETE / UPDATE by predicate — three-way file classification.

``DELETE FROM t WHERE p`` and ``UPDATE t SET c = e WHERE p`` over the token
table, copy-on-write. The plan classifies every file with ONE Spark job and
touches the minimum set of bytes:

1. **manifest pruning** — callers who know their predicate's bounds pass
   ``doc_id_range`` / ``n_tok_range`` and files outside the min/max stats
   never appear in the plan (same skip path as ``TokenTable.scan``).
2. **classify job** — read surviving files through
   ``TokenTable.read_files`` (pending merge-on-read deletes suppressed,
   every row tagged with its data file) and count matching rows per file.
   The file tag is deterministic, so the predicate is pushed into the
   parquet scan (row-group stats skip non-matching groups before
   decoding). The reduction is a per-file groupBy — parallel,
   metadata-sized output.
3. **three-way split** per file against its manifest row count:
   - ``matched == 0``        → untouched (not even listed in the commit);
   - ``matched == n_rows``   → **dropped metadata-only** (DELETE only):
     the file leaves the snapshot without being read again or rewritten —
     at 100 TB a partition-aligned delete is pure manifest surgery;
   - otherwise               → copy-on-write rewrite of the survivors
     (DELETE) or of all rows with ``CASE WHEN p THEN e ELSE c END``
     applied (UPDATE), shuffle-free like the merge writer.
4. one atomic commit: remove dropped+rewritten files, add the rewrites.

NULL semantics match SQL: only rows where the predicate is TRUE are
deleted/updated; rows where it evaluates NULL survive unchanged.

Reference analogue: Circus Train's destructive replication drops whole
replica partitions via metadata before any data I/O
(``core/replica/DestructiveReplica.java:83-127``); the partial-file rewrite
is the same copy-on-write minimality contract as ``operators/merge.py``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from circus_train_spark.ids import new_event_id
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.lineage import STATUS_DONE, LineageRecord

OP_DELETE = "delete"
OP_UPDATE = "update"


@dataclass
class DeleteResult:
    snapshot_id: int
    rows_deleted: int
    files_dropped: int       # fully-matched: removed metadata-only
    files_rewritten: int     # partially-matched: copy-on-write
    files_untouched: int
    files_pruned: int        # skipped via manifest min/max before any read
    duration_s: float
    delete_files_written: int = 0  # merge-on-read: equality-delete key files


@dataclass
class UpdateResult:
    snapshot_id: int
    rows_updated: int
    files_rewritten: int
    files_untouched: int
    files_pruned: int
    duration_s: float
    delete_files_written: int = 0  # merge-on-read: old versions suppressed


def _write_key_file(df, dest_path: str) -> int:
    """Write a (small) delete-key DataFrame to ONE parquet file with Spark —
    executor-side, no driver key materialization — and return its row count
    (from the written footer, a metadata read). ``coalesce(1)`` is safe
    here: MOR is gated to low-matched-fraction deletes, so the key set is
    small by construction."""
    staging = dest_path + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        p for p in sorted(os.listdir(staging))
        if p.startswith("part-") and p.endswith(".parquet")
    )
    os.replace(os.path.join(staging, part), dest_path)
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return pq.read_metadata(dest_path).num_rows


def _mor_fits(matched, rows_by_file, partial, mor_max_fraction: float) -> bool:
    """The merge-on-read guard, enforced in EVERY mor-flavored mode (not
    just ``auto``): the per-file matched counts are already in hand from
    the classify job, so a broad predicate never funnels a huge key set
    into delete files a scan must then anti-join — it falls back to
    copy-on-write instead."""
    part_rows = sum(rows_by_file[f] for f in partial)
    part_matched = sum(matched[f] for f in partial)
    return part_matched <= mor_max_fraction * part_rows


def _classify(table: TokenTable, base, predicate: str, doc_id_range, n_tok_range):
    """One job: per-file matched-row counts for every non-pruned file."""
    entries = table.manifest_entries(base.snapshot_id)
    paths = table.file_paths(
        base.snapshot_id, doc_id_range=doc_id_range, n_tok_range=n_tok_range
    )
    n_pruned = len(entries) - len(paths)
    matched: dict[str, int] = {}
    if paths:
        rows = (
            table.read_files(paths, file_col="_file")
            .filter(F.expr(predicate))
            .groupBy("_file")
            .agg(F.count(F.lit(1)).alias("m"))
            .collect()
        )
        matched = {r["_file"]: r["m"] for r in rows}
    return entries, paths, matched, n_pruned


def delete_where(
    table: TokenTable,
    predicate: str,
    *,
    doc_id_range: tuple[str, str] | None = None,
    n_tok_range: tuple[int, int] | None = None,
    mode: str = "cow",
    mor_max_fraction: float = 0.05,
    verify: bool = True,
    run_id: str | None = None,
) -> DeleteResult:
    """``mode``:

    - ``"cow"`` — copy-on-write (default): partially-matched files are
      rewritten without the matching rows.
    - ``"mor"`` — merge-on-read, equality keys: instead of rewriting, the
      matched ``doc_id`` keys are written to a small equality-delete file
      targeting the partially-matched data files; scans anti-join it away
      and compaction purges it. A 1-row delete then rewrites ZERO data
      files — the write-amplification cure for frequent small deletes at
      100 TB (a 1-row copy-on-write delete rewrites a whole ~512 MB file).
      Fully-matched files are still dropped metadata-only in all modes.
    - ``"mor-pos"`` — merge-on-read, positional keys: the delete file
      records ``(file_path, row_pos)`` of the matched rows
      (``_metadata.row_index``), the Iceberg position-delete analogue.
      Cheaper to apply on scans than equality keys (no doc_id decode on
      the data side) and exact even if a key value recurs.
    - ``"auto"`` — merge-on-read when the matched fraction of the
      partially-matched files' rows is below ``mor_max_fraction``, else
      ``cow``. Auto picks POSITIONAL keys: the classify job has already
      located the matched rows by file, so positions are in hand.

    Every mor-flavored mode enforces ``mor_max_fraction`` — a broad
    predicate with an explicit ``mode="mor"`` falls back to copy-on-write
    (recorded as ``requested_mode`` in the commit summary) instead of
    funneling a huge key set through delete files.

    While MOR deletes are pending, manifest ``n_rows``/``table_stats`` count
    physical rows (pre-delete), as in any merge-on-read format; ``scan`` and
    ``table_digest`` reflect the logical table.
    """
    if mode not in ("cow", "mor", "mor-pos", "auto"):
        raise ValueError(f"unknown delete mode {mode!r}")
    t0 = time.monotonic()
    event_id = run_id or new_event_id()
    base = table.current_snapshot()
    entries, paths, matched, n_pruned = _classify(
        table, base, predicate, doc_id_range, n_tok_range
    )
    rows_by_file = {e["file_path"]: e["n_rows"] for e in entries}

    dropped = sorted(f for f, m in matched.items() if m == rows_by_file[f])
    partial = sorted(f for f, m in matched.items() if m < rows_by_file[f])
    rows_deleted = sum(matched.values())
    if not matched:
        return DeleteResult(
            base.snapshot_id, 0, 0, 0, len(paths), n_pruned,
            time.monotonic() - t0,
        )

    use_mor = False
    if partial and mode != "cow":
        use_mor = _mor_fits(matched, rows_by_file, partial, mor_max_fraction)
    positional = use_mor and mode in ("mor-pos", "auto")

    added: list[dict] = []
    added_deletes: list[dict] = []
    if partial and use_mor:
        # delete-key file: ONLY the matched keys (8-40 B/row), scoped to
        # the files they live in, written executor-side by Spark. scan()'s
        # anti-join sees a broadcast of these keys; no data file is read or
        # rewritten here beyond the key projection.
        key_dir = os.path.join(table.data_dir, event_id, "deletes")
        os.makedirs(key_dir, exist_ok=True)
        pred = F.expr(predicate)
        kind = "pos" if positional else "eq"
        key_path = os.path.join(key_dir, f"{kind}-delete-{event_id}.parquet")
        if positional:
            keys = (
                table.read_files(partial, file_col="_file", pos_col="_pos")
                .filter(pred)
                .select(
                    F.col("_file").alias("file_path"), F.col("_pos").alias("row_pos")
                )
            )
        else:
            keys = table.scan(files=partial).filter(pred).select("doc_id")
        n_keys = _write_key_file(keys, key_path)
        added_deletes = [
            {
                "file_path": key_path,
                "kind": kind,
                "n_keys": n_keys,
                "targets": partial,
            }
        ]
    elif partial:
        pred = F.expr(predicate)
        survivors = table.scan(files=partial).filter(~pred | F.isnull(pred))
        added = table.write_data_files(
            survivors, event_id, num_files=None, sub_dir="deleted", shuffle=False
        )

    removed = set(dropped) | (set() if use_mor else set(partial))
    table.lineage.append(
        LineageRecord(
            run_id=event_id,
            operation=OP_DELETE,
            group_id=event_id,
            partition=None,
            files_in=sorted(removed),
            files_out=[e["file_path"] for e in added]
            + [e["file_path"] for e in added_deletes],
            rows=rows_deleted,
            bytes_in=sum(e["file_size"] for e in entries if e["file_path"] in removed),
            bytes_out=sum(e["file_size"] for e in added),
            status=STATUS_DONE,
            duration_s=time.monotonic() - t0,
        )
    )
    snap = table.commit(
        operation=OP_DELETE,
        added=added,
        removed_paths=removed,
        added_deletes=added_deletes,
        summary={
            "predicate": predicate,
            "mode": ("mor-pos" if positional else "mor") if use_mor else "cow",
            "requested_mode": mode,
            "rows_deleted": rows_deleted,
            "files_dropped_metadata_only": len(dropped),
            "files_rewritten": 0 if use_mor else len(partial),
            "delete_files_written": len(added_deletes),
            "files_pruned_by_stats": n_pruned,
        },
        expected_parent_id=base.snapshot_id,
        event_id=event_id,
    )
    if verify:
        post = table.scan()
        assert post.filter(F.expr(predicate)).count() == 0, "matching rows survived"
        n_before = sum(rows_by_file.values())
        n_after = sum(e["n_rows"] for e in table.manifest_entries(snap.snapshot_id))
        # manifest rows are PHYSICAL: MOR leaves deleted rows in place until
        # compaction (the logical scan above is the correctness check), and
        # a COW rewrite of a file carrying PRIOR pending MOR deletes also
        # drops those rows physically — strict matched-row accounting only
        # holds when neither effect is in play
        prior_pending = any(
            set(e["targets"]) & removed
            for e in table.delete_entries(base.snapshot_id)
        )
        removed_physical = sum(rows_by_file[f] for f in removed)
        added_rows = sum(e["n_rows"] for e in added)
        assert n_after == n_before - removed_physical + added_rows, (
            "physical row accounting mismatch"
        )
        if not use_mor and not prior_pending:
            assert n_after == n_before - rows_deleted, "row accounting mismatch"
    return DeleteResult(
        snapshot_id=snap.snapshot_id,
        rows_deleted=rows_deleted,
        files_dropped=len(dropped),
        files_rewritten=0 if use_mor else len(partial),
        files_untouched=len(paths) - len(dropped) - (0 if use_mor else len(partial)),
        files_pruned=n_pruned,
        duration_s=time.monotonic() - t0,
        delete_files_written=len(added_deletes),
    )


def update_where(
    table: TokenTable,
    predicate: str,
    assignments: dict[str, str],
    *,
    doc_id_range: tuple[str, str] | None = None,
    n_tok_range: tuple[int, int] | None = None,
    mode: str = "cow",
    mor_max_fraction: float = 0.05,
    run_id: str | None = None,
) -> UpdateResult:
    """``UPDATE ... SET col = <sql expr> WHERE predicate``; expressions may
    reference any data column (evaluated against the pre-update row).

    ``mode="cow"`` (default) rewrites every touched file. ``mode="mor"``
    writes only the UPDATED rows as new data files plus an equality-delete
    file suppressing their old versions in place — write amplification is
    proportional to matched rows, not touched files (the Iceberg
    merge-on-read UPDATE shape: delete + re-insert in one commit). The new
    rows live in fresh, untargeted files, so the delete keys never suppress
    them. The MOR path is single-pass: the touched files are scanned once
    to write the new row versions, and the delete keys are then derived
    from the new files' (column-pruned, small) ``doc_id`` column. As in
    ``delete_where``, explicit ``mode="mor"`` falls back to copy-on-write
    when the matched fraction exceeds ``mor_max_fraction`` (recorded as
    ``requested_mode``)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown update mode {mode!r}")
    t0 = time.monotonic()
    event_id = run_id or new_event_id()
    base = table.current_snapshot()
    data_cols = [f.name for f in table.data_schema().fields]
    bad = set(assignments) - set(data_cols)
    if bad:
        raise ValueError(f"unknown columns in SET: {sorted(bad)}")
    if "doc_id" in assignments:
        raise ValueError("doc_id is the table key; use merge_into to re-key rows")

    entries, paths, matched, n_pruned = _classify(
        table, base, predicate, doc_id_range, n_tok_range
    )
    rows_by_file = {e["file_path"]: e["n_rows"] for e in entries}
    rows_updated = sum(matched.values())
    touched = sorted(matched)
    if not touched:
        return UpdateResult(
            base.snapshot_id, 0, 0, len(paths), n_pruned, time.monotonic() - t0
        )

    pred = F.expr(predicate)
    added_deletes: list[dict] = []
    use_mor = mode == "mor" and _mor_fits(
        matched, rows_by_file, touched, mor_max_fraction
    )
    if use_mor:
        # new versions of ONLY the matched rows; old versions suppressed by
        # an equality-delete file targeting their current files. ONE scan of
        # the touched files: the keys are re-derived afterwards from the
        # freshly written (small) new files' doc_id column — a column-pruned
        # read of matched-rows-sized files, not a second touched-file scan.
        out = table.scan(files=touched).filter(pred).select(
            *[
                F.expr(assignments[c]).alias(c) if c in assignments else F.col(c)
                for c in data_cols
            ]
        )
        added = table.write_data_files(
            out, event_id, num_files=None, sub_dir="updated", shuffle=False
        )
        key_dir = os.path.join(table.data_dir, event_id, "deletes")
        os.makedirs(key_dir, exist_ok=True)
        key_path = os.path.join(key_dir, f"eq-delete-{event_id}.parquet")
        keys = table.spark.read.parquet(
            *[e["file_path"] for e in added]
        ).select("doc_id")
        n_keys = _write_key_file(keys, key_path)
        added_deletes = [
            {
                "file_path": key_path,
                "kind": "eq",
                "n_keys": n_keys,
                "targets": touched,
            }
        ]
        removed: set[str] = set()
    else:
        out = table.scan(files=touched).select(
            *[
                (
                    F.when(pred, F.expr(sql_expr)).otherwise(F.col(c)).alias(c)
                    if (sql_expr := assignments.get(c)) is not None
                    else F.col(c)
                )
                for c in data_cols
            ]
        )
        added = table.write_data_files(
            out, event_id, num_files=None, sub_dir="updated", shuffle=False
        )
        removed = set(touched)
    table.lineage.append(
        LineageRecord(
            run_id=event_id,
            operation=OP_UPDATE,
            group_id=event_id,
            partition=None,
            files_in=touched,
            files_out=[e["file_path"] for e in added]
            + [e["file_path"] for e in added_deletes],
            rows=rows_updated,
            bytes_in=sum(
                e["file_size"] for e in entries if e["file_path"] in set(touched)
            ),
            bytes_out=sum(e["file_size"] for e in added),
            status=STATUS_DONE,
            duration_s=time.monotonic() - t0,
        )
    )
    snap = table.commit(
        operation=OP_UPDATE,
        added=added,
        removed_paths=removed,
        added_deletes=added_deletes,
        summary={
            "predicate": predicate,
            "assignments": assignments,
            "mode": "mor" if use_mor else "cow",
            "requested_mode": mode,
            "rows_updated": rows_updated,
            "files_rewritten": len(removed),
            "delete_files_written": len(added_deletes),
            "files_pruned_by_stats": n_pruned,
        },
        expected_parent_id=base.snapshot_id,
        event_id=event_id,
    )
    return UpdateResult(
        snapshot_id=snap.snapshot_id,
        rows_updated=rows_updated,
        files_rewritten=len(removed),
        files_untouched=len(paths) - len(touched),
        files_pruned=n_pruned,
        duration_s=time.monotonic() - t0,
        delete_files_written=len(added_deletes),
    )
