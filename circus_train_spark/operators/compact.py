"""Small-file compaction: FFD bin-packed, shuffle-free, resumable.

Plan: manifest scan → candidate small files (predicate + limit over the
manifest DataFrame, the analogue of the reference's partition-predicate
metastore scan ``core/HiveEndpoint.java:147-174``) → driver-side FFD
bin-packing into target-size groups (``binpack.py``) → per-group rewrite →
single atomic snapshot commit.

Execution model (scale rationale):
- **no shuffle**: a bin-pack rewrite is read-concat-write; each group is one
  Spark job `read.parquet(group files).coalesce(1).write` whose single task
  streams the group (≤ target size, default 512 MB) through memory. Groups
  run concurrently from a driver thread pool under FAIR scheduling, so a
  1000-executor cluster keeps every slot busy with independent single-task
  jobs — the same work-unit shape as the reference's map-per-file copy jobs
  (``CopyMapper.java:112-150``), with Spark's scheduler replacing the MR
  input-format split planner.
- **resume**: group ids are content-deterministic; each finished group
  appends a ``staged`` lineage checkpoint, and every group turns ``done``
  once the commit lands. A rerun after a crash re-plans the identical
  groups, adopts the staged ones whose outputs are present and hold the
  inputs' rows and digest (they turn ``done`` with the rerun's commit),
  rewrites the rest, and commits exactly once (reference analogue:
  per-table failure isolation ``core/Locomotive.java:107-126``).
- the commit removes exactly the input files and adds the group outputs;
  unless disabled, scan equality (``TokenTable.assert_rows_preserved``) is
  checked on the staged snapshot before the head moves.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import functions as F

from circus_train_spark.meta import schema as S
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.binpack import FileGroup, plan_compaction_groups

OP = "compact"


@dataclass
class CompactionResult:
    snapshot_id: int | None
    groups_planned: int
    groups_rewritten: int
    groups_skipped: int
    files_in: int
    files_out: int
    bytes_in: int
    rows: int
    duration_s: float


import pyspark.sql.types as T


def _rewrite_schema(table: TokenTable) -> T.StructType:
    """Rewrite schema: the table's CURRENT data columns (schema evolution
    carries added/widened columns through the rewrite) + the persisted
    hidden columns (row hash, clustering key) copied verbatim so output
    stats derive from the input manifest entries with zero post-write
    scanning."""
    return T.StructType(
        table.data_schema().fields
        + [
            T.StructField(S.ZKEY_COL, T.LongType(), True),
            T.StructField(S.ROW_HASH_COL, T.LongType(), True),
        ]
    )


def _fold(entries: list[dict]) -> tuple[int, int]:
    """(rows, xor digest) of a file set — what a row-preserving rewrite
    keeps (xor digests compose)."""
    xor = 0
    for e in entries:
        xor ^= e["xor_digest"] or 0
    return sum(e["n_rows"] for e in entries), xor


def _derive_group_entry(group: FileGroup, in_entries: list[dict], out_path: str) -> dict:
    """A bin-pack rewrite is row-preserving, so every manifest stat of the
    output file is a pure fold of the inputs' stats; only the physical size
    comes from the filesystem."""
    n_rows, xor = _fold(in_entries)

    def _mm(key, fn):
        vals = [e[key] for e in in_entries if e[key] is not None]
        return fn(vals) if vals else None

    def _mm_strict(key, fn):
        # zkey bounds: any input without zkey stats may hold null-zkey rows,
        # so the folded bounds would NOT cover them — emit None (conservative
        # keep-file convention, mirrors file_paths._hits null handling)
        vals = [e[key] for e in in_entries]
        return fn(vals) if vals and all(v is not None for v in vals) else None

    return {
        "file_path": out_path,
        "partition": group.partition,
        "file_size": os.path.getsize(out_path),
        "n_rows": n_rows,
        "min_doc_id": _mm("min_doc_id", min),
        "max_doc_id": _mm("max_doc_id", max),
        "min_n_tok": _mm("min_n_tok", min),
        "max_n_tok": _mm("max_n_tok", max),
        "min_zkey": _mm_strict("min_zkey", min),
        "max_zkey": _mm_strict("max_zkey", max),
        "xor_digest": xor,
        "added_snapshot_id": -1,
    }


def _rewrite_group(
    table: TokenTable,
    group: FileGroup,
    entry_by_path: dict[str, dict],
    event_id: str,
    snapshot_id: int | None = None,
    delete_targets: frozenset[str] = frozenset(),
) -> tuple[FileGroup, list[dict], float]:
    """Read the group's files and write them back as one file. Runs in a
    driver worker thread; the heavy lifting is one single-task Spark job.

    The read goes through ``TokenTable.read_files``, so files targeted by
    pending merge-on-read delete files (equality OR positional, each key
    scoped to its own targets) lose their deleted rows during the rewrite
    — that is what *purges* the delete files — while untargeted members
    are read verbatim and a re-inserted key is never suppressed."""
    t0 = time.monotonic()
    out_dir = os.path.join(table.data_dir, event_id, f"g-{group.group_id}")
    targeted = not delete_targets.isdisjoint(group.files)
    df = table.read_files(list(group.files), _rewrite_schema(table), snapshot_id)
    df = df.withColumn(S.WRITE_PART_COL, F.col("source"))
    from circus_train_spark.meta.writers import WriteRequest, writer_for

    writer_for(out_dir).write(
        WriteRequest(
            df=df,
            dest_dir=out_dir,
            partition_cols=[S.WRITE_PART_COL],
            single_file=True,
            codec=S.TOKEN_PARQUET_CODEC,
            mode="overwrite",
        )
    )
    out_files = table._walk_parquet(out_dir)
    in_entries = [entry_by_path[p] for p in group.files]
    if (
        len(out_files) == 1
        and not targeted  # delete application changes rows: stats must be measured
        and all(e["xor_digest"] is not None for e in in_entries)
    ):
        entries = [_derive_group_entry(group, in_entries, out_files[0])]
    else:  # multi-partition group, foreign inputs, or applied deletes
        entries = table.collect_entries_for_files(out_files, zkey=True)
    return group, entries, time.monotonic() - t0


def compact(
    table: TokenTable,
    target_file_bytes: int = 512 * 1024 * 1024,
    small_file_threshold: int | None = None,
    partitions: list[str] | None = None,
    max_groups: int | None = None,
    max_concurrency: int = 8,
    verify: bool = True,
    run_id: str | None = None,
) -> CompactionResult:
    t_start = time.monotonic()
    base = table.current_snapshot()

    entries = table.manifest_entries(base.snapshot_id)
    if partitions is not None:
        keep = set(partitions)
        entries = [e for e in entries if e["partition"] in keep]
    # pending merge-on-read deletes: their target files are forced into the
    # plan (regardless of size) so this compaction physically applies and
    # purges the delete files
    del_entries = table.delete_entries(base.snapshot_id)
    delete_targets: set[str] = set()
    for de in del_entries:
        delete_targets.update(de["targets"])
    groups = plan_compaction_groups(
        entries,
        target_file_bytes,
        small_file_threshold=small_file_threshold,
        force_files=delete_targets or None,
    )
    if max_groups is not None:
        groups = groups[:max_groups]
    if not groups:
        return CompactionResult(None, 0, 0, 0, 0, 0, 0, 0, 0.0)

    # resume: skip groups a previous (crashed or conflicting) run already
    # wrote — unless a pending delete targets a member, which that output
    # may predate
    done = {
        gid: rec
        for gid, rec in table.lineage.completed_groups(OP).items()
        if delete_targets.isdisjoint(rec.files_in)
    }
    todo = [g for g in groups if g.group_id not in done]
    skipped = []

    all_added: list[dict] = []
    removed: set[str] = set()
    entry_by_path = {e["file_path"]: e for e in entries}
    rows_total = 0
    with table.lineage.run(OP, run_id) as run:
        for g in groups:
            if g.group_id not in done:
                continue
            # reuse prior outputs, measured from the files, only if they
            # hold the inputs' rows (a run whose check failed staged them
            # too); the group turns done with this run's commit
            rec = done[g.group_id]
            outs = table.collect_entries_for_files(rec.files_out)
            if _fold(outs) != _fold([entry_by_path[p] for p in g.files]):
                todo.append(g)
                continue
            all_added.extend(outs)
            removed.update(g.files)
            skipped.append(g)
            run.adopt(rec)
        # each group's job carries the caller's job group and properties
        rewrite = inheritable_thread_target(table.spark)(_rewrite_group)
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            futures = [
                pool.submit(
                    rewrite, table, g, entry_by_path, run.run_id,
                    base.snapshot_id, frozenset(delete_targets),
                )
                for g in todo
            ]
            for fut in futures:
                g, entries_out, dur = fut.result()
                all_added.extend(entries_out)
                removed.update(g.files)
                rows = sum(e["n_rows"] for e in entries_out)
                rows_total += rows
                run.stage(
                    group_id=g.group_id,
                    partition=g.partition,
                    files_in=g.files,
                    files_out=[e["file_path"] for e in entries_out],
                    rows=rows,
                    bytes_in=g.total_bytes,
                    bytes_out=sum(e["file_size"] for e in entries_out),
                    duration_s=dur,
                )

        snap = table.commit(
            operation=OP,
            added=all_added,
            removed_paths=removed,
            summary={"groups": len(groups), "target_file_bytes": target_file_bytes},
            expected_parent_id=base.snapshot_id,
            event_id=run.run_id,
            check=table.assert_rows_preserved if verify else None,
        )

    return CompactionResult(
        snapshot_id=snap.snapshot_id,
        groups_planned=len(groups),
        groups_rewritten=len(todo),
        groups_skipped=len(skipped),
        files_in=len(removed),
        files_out=len(all_added),
        bytes_in=sum(g.total_bytes for g in groups),
        rows=rows_total,
        duration_s=time.monotonic() - t_start,
    )
