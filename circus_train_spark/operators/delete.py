"""Row-level DELETE / UPDATE by predicate — three-way file classification.

``DELETE FROM t WHERE p`` and ``UPDATE t SET c = e WHERE p`` on the
row-level skeleton of ``operators/rowlevel.py``; each keeps only its row
plan, the survivor filter or the ``CASE WHEN p THEN e ELSE c END``
projection. Files outside caller-given ``doc_id_range`` / ``n_tok_range``
stats are pruned before any read; ONE probe job counts matching rows per
remaining file (predicate pushed into the parquet scan); then per file:
``matched == 0`` → untouched (not even listed in the commit);
``matched == n_rows`` → **dropped metadata-only** (DELETE only — at 100 TB
a partition-aligned delete is pure manifest surgery); otherwise → a
shuffle-free copy-on-write rewrite through the row plan, or a small
merge-on-read key file that scans anti-join away. One atomic commit.

NULL semantics match SQL: only rows where the predicate is TRUE are
deleted/updated. Reference analogue: destructive replication drops whole
replica partitions via metadata before any data I/O
(``core/replica/DestructiveReplica.java:83-127``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql import types as T

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators import rowlevel

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


def _mor_fits(matched, rows_by_file, files, mor_max_fraction: float) -> bool:
    """The merge-on-read guard of EVERY mor-flavored mode, from the probe's
    counts: a broad predicate falls back to copy-on-write instead of
    funneling a huge key set into delete files every scan must anti-join."""
    n_rows = sum(rows_by_file[f] for f in files)
    return sum(matched[f] for f in files) <= mor_max_fraction * n_rows


def _classify(table: TokenTable, base, predicate: str, doc_id_range, n_tok_range):
    """Per-file matched-row counts for every file the manifest stats keep."""
    entries = table.manifest_entries(base.snapshot_id)
    paths = table.file_paths(
        base.snapshot_id, doc_id_range=doc_id_range, n_tok_range=n_tok_range
    )
    per_file = rowlevel.probe(
        table, paths, lambda df: df.filter(F.expr(predicate)), m=F.count(F.lit(1))
    )
    rows_by_file = {e["file_path"]: e["n_rows"] for e in entries}
    matched = {f: r["m"] for f, r in per_file.items()}
    return rows_by_file, paths, matched, len(entries) - len(paths)


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
    - ``"mor"`` — merge-on-read, equality keys: the matched ``doc_id`` keys
      go to a small equality-delete file targeting the partially-matched
      data files; scans anti-join it away and compaction purges it. A
      1-row delete then rewrites ZERO data files (copy-on-write rewrites a
      whole ~512 MB file). Fully-matched files are dropped metadata-only in
      all modes.
    - ``"mor-pos"`` — merge-on-read, positional keys: the delete file
      records ``(file_path, row_pos)`` of the matched rows, the Iceberg
      position-delete analogue — no doc_id decode on the data side, exact
      even if a key value recurs.
    - ``"auto"`` — ``"mor-pos"`` when the matched fraction of the
      partially-matched files' rows is below ``mor_max_fraction``.

    Every mor-flavored mode enforces ``mor_max_fraction``, falling back to
    copy-on-write (``requested_mode`` in the commit summary records it).

    While MOR deletes are pending, manifest ``n_rows``/``table_stats`` count
    physical rows (pre-delete), as in any merge-on-read format; ``scan`` and
    ``table_digest`` reflect the logical table.
    """
    if mode not in ("cow", "mor", "mor-pos", "auto"):
        raise ValueError(f"unknown delete mode {mode!r}")
    t0, base = time.monotonic(), table.current_snapshot()
    rows_by_file, paths, matched, n_pruned = _classify(
        table, base, predicate, doc_id_range, n_tok_range
    )
    dropped = sorted(f for f, m in matched.items() if m == rows_by_file[f])
    partial = sorted(f for f, m in matched.items() if m < rows_by_file[f])
    rows_deleted = sum(matched.values())
    if not matched:
        return DeleteResult(
            base.snapshot_id, 0, 0, 0, len(paths), n_pruned, time.monotonic() - t0
        )

    use_mor = (
        bool(partial)
        and mode != "cow"
        and _mor_fits(matched, rows_by_file, partial, mor_max_fraction)
    )
    positional = use_mor and mode in ("mor-pos", "auto")
    pred = F.expr(predicate)
    survivors, deletes = None, []
    removed = set(dropped) | (set() if use_mor else set(partial))
    n_rewritten = 0 if use_mor else len(partial)

    def check(snap):
        post = table.scan(snap.snapshot_id)
        assert post.filter(pred).count() == 0, "matching rows survived"
        # manifest rows are PHYSICAL: a MOR delete leaves rows in place, and
        # a COW rewrite also drops rows of PRIOR pending MOR deletes — so
        # matched-row accounting is strict only when neither is in play
        before = {e["file_path"]: e for e in table.manifest_entries(snap.parent_id)}
        after = table.manifest_entries(snap.snapshot_id)
        n_before = sum(e["n_rows"] for e in before.values())
        n_after = sum(e["n_rows"] for e in after)
        added_rows = sum(
            e["n_rows"] for e in after if e["added_snapshot_id"] == snap.snapshot_id
        )
        removed_rows = sum(before[f]["n_rows"] for f in removed)
        assert n_after == n_before - removed_rows + added_rows, "physical row mismatch"
        prior_pending = any(
            set(e["targets"]) & removed for e in table.delete_entries(snap.parent_id)
        )
        if not use_mor and not prior_pending:
            assert n_after == n_before - rows_deleted, "row accounting mismatch"

    with table.lineage.run(OP_DELETE, run_id) as run:
        if use_mor:
            if positional:
                keys = (
                    table.read_files(partial, file_col="_file", pos_col="_pos")
                    .filter(pred)
                    .selectExpr("_file AS file_path", "_pos AS row_pos")
                )
            else:
                keys = table.scan(files=partial).filter(pred).select("doc_id")
            kind = "pos" if positional else "eq"
            deletes = [rowlevel.key_delete_file(table, run.run_id, kind, keys, partial)]
        elif partial:
            survivors = table.scan(files=partial).filter(~pred | F.isnull(pred))
        snap, _ = rowlevel.finish(
            table, run, base,
            out=survivors, sub_dir="deleted", removed=removed,
            added_deletes=deletes, rows=rows_deleted,
            summary={
                "predicate": predicate,
                "mode": ("mor-pos" if positional else "mor") if use_mor else "cow",
                "requested_mode": mode,
                "rows_deleted": rows_deleted,
                "files_dropped_metadata_only": len(dropped),
                "files_rewritten": n_rewritten,
                "delete_files_written": len(deletes),
                "files_pruned_by_stats": n_pruned,
            },
            check=check if verify else None,
        )
    return DeleteResult(
        snapshot_id=snap.snapshot_id,
        rows_deleted=rows_deleted,
        files_dropped=len(dropped),
        files_rewritten=n_rewritten,
        files_untouched=len(paths) - len(dropped) - n_rewritten,
        files_pruned=n_pruned,
        duration_s=time.monotonic() - t0,
        delete_files_written=len(deletes),
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
    writes only the UPDATED rows as new, untargeted data files plus an
    equality-delete file suppressing their old versions — the Iceberg
    merge-on-read UPDATE shape, write amplification proportional to matched
    rows. It scans the touched files once; the delete keys are read back
    from the new files' (small) ``doc_id`` column. As in ``delete_where``,
    ``mor_max_fraction`` guards it (``requested_mode`` records a fallback)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown update mode {mode!r}")
    t0, base = time.monotonic(), table.current_snapshot()
    data_cols = [f.name for f in table.data_schema().fields]
    bad = set(assignments) - set(data_cols)
    if bad:
        raise ValueError(f"unknown columns in SET: {sorted(bad)}")
    if "doc_id" in assignments:
        raise ValueError("doc_id is the table key; use merge_into to re-key rows")

    rows_by_file, paths, matched, n_pruned = _classify(
        table, base, predicate, doc_id_range, n_tok_range
    )
    rows_updated = sum(matched.values())
    touched = sorted(matched)
    if not touched:
        return UpdateResult(
            base.snapshot_id, 0, 0, len(paths), n_pruned, time.monotonic() - t0
        )

    pred = F.expr(predicate)
    use_mor = mode == "mor" and _mor_fits(
        matched, rows_by_file, touched, mor_max_fraction
    )
    rows = table.scan(files=touched)
    out = (rows.filter(pred) if use_mor else rows).select(*[
        F.when(pred, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
        if c in assignments else F.col(c)
        for c in data_cols
    ])

    def old_versions(added: list[dict]) -> list[dict]:
        doc_ids = T.StructType([T.StructField("doc_id", T.StringType())])
        keys = table.read_files([e["file_path"] for e in added], schema=doc_ids)
        return [rowlevel.key_delete_file(table, run.run_id, "eq", keys, touched)]

    removed = set() if use_mor else set(touched)
    with table.lineage.run(OP_UPDATE, run_id) as run:
        snap, _ = rowlevel.finish(
            table, run, base,
            out=out, sub_dir="updated", removed=removed,
            added_deletes=old_versions if use_mor else [], rows=rows_updated,
            summary={
                "predicate": predicate,
                "assignments": assignments,
                "mode": "mor" if use_mor else "cow",
                "requested_mode": mode,
                "rows_updated": rows_updated,
                "files_rewritten": len(removed),
                "delete_files_written": int(use_mor),
                "files_pruned_by_stats": n_pruned,
            },
        )
    return UpdateResult(
        snapshot_id=snap.snapshot_id,
        rows_updated=rows_updated,
        files_rewritten=len(removed),
        files_untouched=len(paths) - len(touched),
        files_pruned=n_pruned,
        duration_s=time.monotonic() - t0,
        delete_files_written=int(use_mor),
    )
