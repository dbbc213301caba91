"""Row-level change skeleton under DELETE, UPDATE, MERGE and conditional MERGE.

Each operator is Circus Train's replica flow at file granularity: classify
the table's files against the change (``core/replica/Replica.java:177-204``),
drop or rewrite what goes (``core/replica/DestructiveReplica.java:83-127``),
commit once. ``delete.py`` and ``merge.py`` keep only their row plans and
share these steps: ``source_plan`` (MERGE's change-set pre-pass),
``probe`` (ONE job classifying candidate files through
``TokenTable.read_files``), ``key_delete_file`` (a merge-on-read delete
file) and ``finish`` (new data files, one commit, one lineage unit). An
operator's ``verify=True`` postconditions are the commit's ``check``: they
run on the staged snapshot before the head moves.

Lineage is one unit for all four operators, recorded after the commit:
``files_in`` lists the files the commit removes or a new delete file
targets, ``bytes_in`` is their size, ``rows`` the rows deleted, updated or
inserted.
"""

from __future__ import annotations

import os
import shutil
from bisect import bisect_left
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.lineage import LineageRun

# Change sets up to this many rows are broadcast to the MERGE joins (decided
# from the known change-set size, like Catalyst's autoBroadcastJoinThreshold);
# larger ones leave the join to Catalyst/AQE (sort-merge or shuffled hash).
BROADCAST_THRESHOLD_ROWS = 1_000_000
# Change sets up to this many rows are collected once and pruned driver-side;
# larger ones pay one aggregation pass and the distributed prefix-bucket prune.
DRIVER_PRUNE_THRESHOLD_KEYS = 200_000

MERGE_OPS = ("upsert", "delete")


# ------------------------------------------------------------ source plan
def _prune_by_stats_local(
    entries: list[dict], sorted_keys: list[str]
) -> tuple[list[dict], int]:
    """Driver-side stats pruning for SMALL change sets: binary-search the
    sorted key list against each file's [min, max] range. O(files · log
    keys), zero Spark jobs."""
    kept = []
    for e in entries:
        mn, mx = e["min_doc_id"], e["max_doc_id"]
        if mn is None or mx is None:
            kept.append(e)  # no stats: conservative keep
            continue
        i = bisect_left(sorted_keys, mn)
        if i < len(sorted_keys) and sorted_keys[i] <= mx:
            kept.append(e)
    return kept, len(entries) - len(kept)


def _prune_by_stats(entries: list[dict], keys_df: DataFrame) -> tuple[list[dict], int]:
    """Keep manifest entries whose doc_id range may contain a change key.

    A bare range-containment join is a nested loop (O(files x keys)).
    Instead, files whose [min_doc_id, max_doc_id] share a prefix of length
    L — the median over the manifest — are **equi-joined on that prefix**
    with the range check as a residual (truncation is monotone, so a key in
    the range carries the same prefix); range-spanning files are kept
    conservatively for the probe, the real filter."""
    if not entries:
        return [], 0
    lcps = sorted(
        len(os.path.commonprefix([e["min_doc_id"] or "", e["max_doc_id"] or ""]))
        for e in entries
    )
    L = lcps[len(lcps) // 2]
    spanning, bucketed = [], []
    for e in entries:
        mn, mx = e["min_doc_id"], e["max_doc_id"]
        if mn is None or mx is None or L == 0 or mn[:L] != mx[:L]:
            spanning.append(e)  # conservative keep (no stats / wide range)
        else:
            bucketed.append(e)
    hit_set: set[str] = set()
    if bucketed:
        m = keys_df.sparkSession.createDataFrame(
            [(e["file_path"], e["min_doc_id"], e["max_doc_id"], e["min_doc_id"][:L])
             for e in bucketed],
            "file_path string, min_doc_id string, max_doc_id string, pfx string",
        )
        keyed = keys_df.withColumn("pfx", F.substring("doc_id", 1, L))
        # stream the (large) key side, broadcast the (small) manifest side:
        # hash join on pfx, range containment as residual, distinct file set
        hit = (
            keyed.join(
                F.broadcast(m),
                (keyed.pfx == m.pfx)
                & (keyed.doc_id >= m.min_doc_id)
                & (keyed.doc_id <= m.max_doc_id),
            )
            .select("file_path")
            .distinct()
            .collect()
        )
        hit_set = {r["file_path"] for r in hit}
    kept = spanning + [e for e in bucketed if e["file_path"] in hit_set]
    return kept, len(entries) - len(kept)


@dataclass
class SourcePlan:
    n_upserts: int  # rows with _op = 'upsert' (all rows when the source has no _op)
    broadcast: bool
    candidates: list[str]  # files whose doc_id range may hold a source key
    n_pruned: int  # files skipped by manifest min/max stats

    @property
    def strategy(self) -> str:
        return "broadcast" if self.broadcast else "sort_merge"

    def keyside(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.broadcast else df


def source_plan(table: TokenTable, base, source: DataFrame) -> SourcePlan:
    """MERGE's pre-pass over ``source`` (``doc_id`` plus, for
    ``merge_into``, ``_op``): reject NULL and duplicate keys and any
    ``_op`` other than ``upsert`` / ``delete`` (NULL included), decide the
    broadcast, and prune the base snapshot's files by their doc_id range.
    A change set of at most ``DRIVER_PRUNE_THRESHOLD_KEYS`` rows is
    collected ONCE (an incremental CollectLimit) and handled driver-side; a
    larger one pays one aggregation pass and the distributed prune."""
    op = F.col("_op") if "_op" in source.columns else F.lit("upsert")
    ops = source.select("doc_id", op.alias("_op"))
    head = ops.limit(DRIVER_PRUNE_THRESHOLD_KEYS + 1).collect()
    small = len(head) <= DRIVER_PRUNE_THRESHOLD_KEYS
    bad_op = ~F.col("_op").isin(*MERGE_OPS) | F.col("_op").isNull()
    if small:
        keys = {r["doc_id"] for r in head} - {None}
        n_rows, n_distinct = len(head), len(keys)
        n_null = sum(1 for r in head if r["doc_id"] is None)
        n_upserts = sum(1 for r in head if r["_op"] == "upsert")
        bad = {r["_op"] for r in head} - set(MERGE_OPS)
    else:
        pre = ops.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("nd"),
            F.count(F.when(F.col("doc_id").isNull(), 1)).alias("nnull"),
            F.count(F.when(F.col("_op") == "upsert", 1)).alias("nu"),
            F.count(F.when(bad_op, 1)).alias("nbad"),
        ).collect()[0]
        n_rows, n_distinct, n_upserts = pre["n"], pre["nd"], pre["nu"]
        n_null = pre["nnull"]
        bad = set()
        if pre["nbad"]:  # error path only: name a few of the bad values
            named = ops.filter(bad_op).select("_op").distinct().limit(10).collect()
            bad = {r["_op"] for r in named}
    if bad:
        raise ValueError(
            f"unknown MERGE _op values {', '.join(sorted(map(repr, bad)))}: "
            f"every change row must be one of {MERGE_OPS}"
        )
    if n_null:
        raise ValueError(
            f"MERGE change set has {n_null} row(s) with a NULL doc_id "
            "(every change row needs a key)"
        )
    if n_distinct != n_rows:
        raise ValueError(
            f"ambiguous MERGE: {n_rows - n_distinct} duplicate doc_id keys in "
            "the change set (each key may appear at most once)"
        )
    entries = table.manifest_entries(base.snapshot_id)
    if small:
        candidates, n_pruned = _prune_by_stats_local(entries, sorted(keys))
    else:
        candidates, n_pruned = _prune_by_stats(entries, source.select("doc_id"))
    return SourcePlan(
        n_upserts=n_upserts,
        broadcast=n_rows <= BROADCAST_THRESHOLD_ROWS,
        candidates=[e["file_path"] for e in candidates],
        n_pruned=n_pruned,
    )


# ------------------------------------------------------------------ steps
def probe(table: TokenTable, paths: list[str], rows_fn, **aggs) -> dict:
    """ONE Spark job: ``paths`` read through ``read_files`` with each row
    tagged by its data file (``_file``), the caller's filter or key join
    ``rows_fn``, then the named aggregates per file; returns
    ``{file: Row}`` for files with a row left. A per-file grouped aggregate,
    not a collect_set into one global row: the reduction stays parallel and
    each result row is tiny."""
    if not paths:
        return {}
    rows = (
        rows_fn(table.read_files(paths, file_col="_file"))
        .groupBy("_file")
        .agg(*[c.alias(name) for name, c in aggs.items()])
        .collect()
    )
    return {r["_file"]: r for r in rows}


def key_delete_file(
    table: TokenTable, event_id: str, kind: str, keys_df: DataFrame, targets: list[str]
) -> dict:
    """Write a merge-on-read delete file — ``kind`` ``"eq"`` (``doc_id``
    keys) or ``"pos"`` (``file_path``, ``row_pos``) — executor-side into
    ONE parquet file (merge-on-read is gated to small matched fractions, so
    ``coalesce(1)`` is safe) and return its entry, scoped to ``targets``."""
    key_dir = os.path.join(table.data_dir, event_id, "deletes")
    path = os.path.join(key_dir, f"{kind}-delete-{event_id}.parquet")
    staging = path + ".staging"
    keys_df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(
        p for p in sorted(os.listdir(staging))
        if p.startswith("part-") and p.endswith(".parquet")
    )
    os.replace(os.path.join(staging, part), path)
    shutil.rmtree(staging, ignore_errors=True)
    n_keys = pq.read_metadata(path).num_rows
    return {"file_path": path, "kind": kind, "n_keys": n_keys, "targets": targets}


def finish(
    table: TokenTable,
    run: LineageRun,
    base,
    *,
    out: DataFrame | None,
    sub_dir: str,
    removed: set[str],
    added_deletes=(),
    rows: int,
    summary: dict,
    check=None,
):
    """Write ``out`` as new data files (shuffle-free: a scan of
    single-source files already groups rows by source within tasks), make
    one commit of ``run.operation`` against ``base`` removing ``removed``
    and adding the new files plus ``added_deletes`` — or a function of the
    new data-file entries returning them, for delete keys read back from
    the rows this commit writes — then record the run's one lineage unit.
    ``check`` is the commit's pre-publish check (``TokenTable.commit``).
    Returns ``(snapshot, new data-file entries)``."""
    added = []
    if out is not None:
        added = table.write_data_files(out, run.run_id, sub_dir=sub_dir, shuffle=False)
    if callable(added_deletes):
        added_deletes = added_deletes(added)
    snap = table.commit(
        operation=run.operation,
        added=added,
        removed_paths=removed,
        added_deletes=list(added_deletes),
        summary=summary,
        expected_parent_id=base.snapshot_id,
        event_id=run.run_id,
        check=check,
    )
    files_in = sorted(removed.union(*(d["targets"] for d in added_deletes)))
    entries = table.manifest_entries(base.snapshot_id)
    size = {e["file_path"]: e["file_size"] for e in entries}
    run.record(
        files_in=files_in,
        files_out=[e["file_path"] for e in [*added, *added_deletes]],
        rows=rows,
        bytes_in=sum(size[f] for f in files_in),
        bytes_out=sum(e["file_size"] for e in added),
    )
    return snap, added
