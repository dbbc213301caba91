"""MERGE INTO — broadcast-or-sort-merge join plan, copy-on-write file groups.

Change-set schema: the data columns plus ``_op`` ∈ {``upsert``, ``delete``}
(tokens/n_tok/source may be NULL for deletes). Semantics:

- ``upsert`` with a matching ``doc_id``  → UPDATE (row replaced)
- ``upsert`` with no match               → INSERT
- ``delete`` with a matching ``doc_id``  → DELETE (no-op if absent)

Plan (all joins on ``doc_id``):
1. **file pruning** — manifest entries whose [min_doc_id, max_doc_id] range
   could contain a change key survive; everything else is out of scope
   before any data read (stats-based skip; works best after clustering).
2. **touched-file probe** — read only the ``doc_id`` column of surviving
   files (column pruning to one string column), **left-semi join** against
   the change keys, collect the distinct set of tagged source files. This is
   the reference's replica-side hash probe re-expressed distributed
   (``core/replica/Replica.java:177-204,290-296``).
3. **copy-on-write rewrite** — read the touched files fully, **left-anti
   join** away all changed keys (updates + deletes; the reference's
   propagate-deletes anti-join, ``core/replica/DestructiveReplica.java:
   83-127``), union all upsert rows, write new files per partition.
   Untouched files are not rewritten — byte-identical, the copy-on-write
   minimality contract.
4. single atomic commit: remove touched files, add rewritten ones.

Join strategy: the change side is broadcast when its estimated size is under
``broadcast_threshold_bytes`` (like Catalyst's autoBroadcastJoinThreshold,
decided here from known change-set size), else Catalyst/AQE picks a
sort-merge or shuffled-hash join on the shuffled key.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from circus_train_spark.ids import new_event_id
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.lineage import STATUS_DONE, LineageRecord

OP = "merge"


@dataclass
class MergeResult:
    snapshot_id: int | None
    files_touched: int
    files_pruned: int
    files_out: int
    inserted: int
    updated: int
    deleted: int
    strategy: str
    duration_s: float


def _lcp_len(a: str, b: str) -> int:
    n = 0
    for x, y in zip(a, b):
        if x != y:
            break
        n += 1
    return n


def _prune_by_stats_local(
    entries: list[dict], sorted_keys: list[str]
) -> tuple[list[dict], int]:
    """Driver-side stats pruning for SMALL change sets: binary-search the
    sorted key list against each file's [min, max] range. O(files · log
    keys), zero Spark jobs — the size-adaptive fast path (a 10^4-key merge
    shouldn't pay a distributed-join's scheduling latency just to plan)."""
    from bisect import bisect_left

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

    Scale-safe plan: a bare range-containment theta join is a
    broadcast-nested-loop (O(files x keys) — 10^12 comparisons at 10^6
    files x 10^6 keys). Instead, files whose [min_doc_id, max_doc_id] share
    a common prefix of length L are **equi-joined on that prefix** (hash
    join with the range check as a residual filter; truncation is monotone
    in lexicographic order, so a key inside the range must carry the same
    prefix). L is the median LCP over the manifest, so at least half the
    files take the equi path; range-spanning files are conservatively kept
    (they proceed to the column-pruned probe, which is the real filter).
    """
    if not entries:
        return [], 0
    spark = keys_df.sparkSession
    lcps = sorted(
        _lcp_len(e["min_doc_id"] or "", e["max_doc_id"] or "")
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
        m = spark.createDataFrame(
            [
                (e["file_path"], e["min_doc_id"], e["max_doc_id"], e["min_doc_id"][:L])
                for e in bucketed
            ],
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
                "inner",
            )
            .select("file_path")
            .distinct()
            .collect()
        )
        hit_set = {r["file_path"] for r in hit}
    kept = spanning + [e for e in bucketed if e["file_path"] in hit_set]
    return kept, len(entries) - len(kept)


def merge_into(
    table: TokenTable,
    changes: DataFrame,
    broadcast_threshold_rows: int = 1_000_000,
    driver_prune_threshold_keys: int = 200_000,
    verify: bool = True,
    run_id: str | None = None,
    extra_summary: dict | None = None,
) -> MergeResult:
    t0 = time.monotonic()
    event_id = run_id or new_event_id()
    base = table.current_snapshot()

    data_cols = [f.name for f in table.data_schema().fields]
    changes = changes.select(*data_cols, "_op").cache()
    # Single bounded pre-pass: the common small-churn merge (change set
    # under the driver-prune threshold) collects its (doc_id, _op) pairs
    # ONCE and derives count / duplicate-key validation / upsert-count /
    # sorted prune keys driver-side — zero further pre-jobs before the
    # probe. Only an over-threshold change set pays the aggregation pass
    # (which itself replaced three serial jobs in round 1; merge was the
    # worst scaler at 0.53 N->4N before that). CollectLimit executes
    # incrementally, so the small-path peek never scans a huge change set.
    head = (
        changes.select("doc_id", "_op")
        .limit(driver_prune_threshold_keys + 1)
        .collect()
    )
    if len(head) <= driver_prune_threshold_keys:
        n_changes = len(head)
        n_upserts = sum(1 for r in head if r["_op"] == "upsert")
        key_set = {r["doc_id"] for r in head}
        n_distinct = len(key_set)
        small_path_keys: list[str] | None = sorted(key_set)
    else:
        pre = changes.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("nd"),
            F.count(F.when(F.col("_op") == "upsert", 1)).alias("nu"),
        ).collect()[0]
        n_changes, n_distinct, n_upserts = pre["n"], pre["nd"], pre["nu"]
        small_path_keys = None
    if n_distinct != n_changes:
        changes.unpersist()
        raise ValueError(
            f"ambiguous MERGE: {n_changes - n_distinct} duplicate doc_id keys in "
            "the change set (each key may appear at most once)"
        )
    n_deletes = n_changes - n_upserts
    use_broadcast = n_changes <= broadcast_threshold_rows
    strategy = "broadcast" if use_broadcast else "sort_merge"

    def keyside(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if use_broadcast else df

    keys = changes.select("doc_id")  # keys are distinct (validated above)

    # 1. stats-based file pruning — size-adaptive: small change sets were
    # already collected above and are pruned driver-side with a binary
    # search; large ones go through the distributed prefix-bucket join.
    entries = table.manifest_entries(base.snapshot_id)
    if small_path_keys is not None:
        candidates, n_pruned_stats = _prune_by_stats_local(entries, small_path_keys)
    else:
        candidates, n_pruned_stats = _prune_by_stats(entries, keys)

    # 2. touched-file probe: doc_id column only, joined against (key, _op)
    # so ONE job yields the touched-file set, matched-row count AND the
    # matched-upsert (=update) count — no second scan of the touched files.
    touched: list[str] = []
    n_existing = 0
    matched_upserts = 0
    if candidates:
        probe = (
            table.read_files([e["file_path"] for e in candidates], file_col="_file")
            .select("doc_id", "_file")
            .join(keyside(changes.select("doc_id", "_op")), "doc_id", "inner")
        )
        # per-file grouped aggregate (NOT collect_set into one global row):
        # the reduction stays parallel and each result row is tiny, so a
        # 10^6-touched-file merge never funnels a multi-hundred-MB file-set
        # array through a single reducer task.
        per_file = probe.groupBy("_file").agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("_op") == "upsert", 1)).alias("nu"),
        ).collect()
        n_existing = sum(r["n"] for r in per_file)
        matched_upserts = sum(r["nu"] for r in per_file)
        touched = sorted(r["_file"] for r in per_file)

    n_updated = matched_upserts
    n_inserted = n_upserts - matched_upserts
    n_deleted = n_existing - matched_upserts  # matched delete keys

    # 3. copy-on-write rewrite of touched files + all upsert rows
    survivors = None
    if touched:
        survivors = table.scan(files=touched).join(keyside(keys), "doc_id", "left_anti")
    # squeeze the (small) upsert side into few source-sorted partitions so
    # the union doesn't fan tiny writer files across every (task, source)
    n_up_parts = max(1, n_upserts // 100_000)
    upsert_rows = (
        changes.filter(F.col("_op") == "upsert")
        .select(*data_cols)
        .repartition(n_up_parts)
        .sortWithinPartitions("source")
    )
    out = upsert_rows if survivors is None else survivors.unionByName(upsert_rows)

    touched_set = set(touched)
    rewritten_bytes = sum(e["file_size"] for e in entries if e["file_path"] in touched_set)
    # shuffle-free copy-on-write: the scan of touched (single-source) files
    # already groups rows by source within tasks, so the dynamic-partition
    # writer streams them straight out — no exchange of the wide token rows.
    # Write parallelism = scan split count; stray small files are the
    # compaction operator's job, not the merge's.
    added = table.write_data_files(
        out, event_id, num_files=None, sub_dir="merged", shuffle=False
    )

    table.lineage.append(
        LineageRecord(
            run_id=event_id,
            operation=OP,
            group_id=event_id,
            partition=None,
            files_in=touched,
            files_out=[e["file_path"] for e in added],
            rows=sum(e["n_rows"] for e in added),
            bytes_in=rewritten_bytes,
            bytes_out=sum(e["file_size"] for e in added),
            status=STATUS_DONE,
            duration_s=time.monotonic() - t0,
        )
    )
    snap = table.commit(
        operation=OP,
        added=added,
        removed_paths=set(touched),
        summary={
            "strategy": strategy,
            "inserted": n_inserted,
            "updated": n_updated,
            "deleted": n_deleted,
            "files_pruned_by_stats": n_pruned_stats,
            **(extra_summary or {}),
        },
        expected_parent_id=base.snapshot_id,
        event_id=event_id,
    )

    if verify:
        _verify_merge(table, base.snapshot_id, snap.snapshot_id, changes)
    changes.unpersist()
    return MergeResult(
        snapshot_id=snap.snapshot_id,
        files_touched=len(touched),
        files_pruned=n_pruned_stats,
        files_out=len(added),
        inserted=n_inserted,
        updated=n_updated,
        deleted=n_deleted,
        strategy=strategy,
        duration_s=time.monotonic() - t0,
    )


# ------------------------------------------------------- conditional MERGE
#
# SQL-style clause objects:
#
#   WHEN MATCHED [AND <cond>] THEN UPDATE SET col = <expr>, ...
#   WHEN MATCHED [AND <cond>] THEN DELETE
#   WHEN NOT MATCHED [AND <cond>] THEN INSERT [(col = <expr>, ...)]
#
# Conditions/expressions are Spark SQL over the TARGET row's columns by
# name plus the SOURCE row's columns as ``s_<col>`` (e.g.
# ``"s_n_tok > n_tok"``). Clause order is significant: the first clause
# whose condition holds wins for each row (ANSI MERGE semantics); a
# matched row matching no clause is left untouched, a source row matching
# no NOT MATCHED clause is ignored. Reference analogue: the per-partition
# create-vs-alter classification of ``core/replica/Replica.java:177-204``
# generalized to row granularity with per-clause predicates.


@dataclass
class MergeClause:
    when: str                                 # "matched" | "not_matched"
    action: str                               # "update" | "delete" | "insert"
    condition: str | None = None              # None = always applies
    assignments: dict[str, str] | None = None  # update/insert column exprs

    def validate(self, data_cols: list[str]) -> None:
        if self.when not in ("matched", "not_matched"):
            raise ValueError(f"bad when: {self.when!r}")
        allowed = {"matched": ("update", "delete"), "not_matched": ("insert",)}
        if self.action not in allowed[self.when]:
            raise ValueError(f"WHEN {self.when} cannot {self.action}")
        if self.action == "update" and not self.assignments:
            raise ValueError("UPDATE clause needs assignments")
        bad = set(self.assignments or {}) - set(data_cols)
        if bad:
            raise ValueError(f"unknown columns in SET: {sorted(bad)}")


@dataclass
class MergeConditionalResult:
    snapshot_id: int | None
    files_touched: int
    files_pruned: int
    files_out: int
    inserted: int
    updated: int
    deleted: int
    clause_rows: list[int]  # actionable rows per clause, clause order
    strategy: str
    duration_s: float


def _clause_action_idx(clauses: list[tuple[int, MergeClause]]):
    """First-matching-clause index as a column cascade; -1 = no clause."""
    expr = F.lit(-1)
    for i, c in reversed(clauses):
        cond = F.lit(True) if c.condition is None else F.expr(c.condition)
        expr = F.when(cond, F.lit(i)).otherwise(expr)
    return expr


def merge_conditional(
    table: TokenTable,
    source: DataFrame,
    clauses: list[MergeClause],
    broadcast_threshold_rows: int = 1_000_000,
    driver_prune_threshold_keys: int = 200_000,
    probe_columns: list[str] | None = None,
    run_id: str | None = None,
) -> MergeConditionalResult:
    """Copy-on-write conditional MERGE. Plan (scale posture identical to
    ``merge_into``): stats-prune candidate files by the source key range →
    ONE probe job over the candidates evaluating the matched-clause cascade
    (reads ``probe_columns`` when given — pass the condition columns to
    keep the probe narrow; default reads the full row) → rewrite ONLY files
    holding an actionable row → append INSERT rows (source anti-join the
    matched keys) → one atomic commit. Pending merge-on-read deletes are
    honored throughout (the probe and rewrite read through the delete-aware
    scan)."""
    t0 = time.monotonic()
    event_id = run_id or new_event_id()
    base = table.current_snapshot()
    data_cols = [f.name for f in table.data_schema().fields]
    for c in clauses:
        c.validate(data_cols)
    matched_clauses = [
        (i, c) for i, c in enumerate(clauses) if c.when == "matched"
    ]
    insert_clauses = [
        (i, c) for i, c in enumerate(clauses) if c.when == "not_matched"
    ]

    srcd = source.select(
        *[F.col(c).alias(f"s_{c}") for c in data_cols]
    ).cache()
    pre = srcd.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("s_doc_id").alias("nd")
    ).collect()[0]
    if pre["nd"] != pre["n"]:
        srcd.unpersist()
        raise ValueError(
            f"ambiguous MERGE: {pre['n'] - pre['nd']} duplicate source keys"
        )
    n_source = pre["n"]
    use_broadcast = n_source <= broadcast_threshold_rows
    strategy = "broadcast" if use_broadcast else "sort_merge"

    def keyside(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if use_broadcast else df

    keys = srcd.select(F.col("s_doc_id").alias("doc_id"))

    # 1. stats-based candidate pruning (same size-adaptive path as merge_into)
    entries = table.manifest_entries(base.snapshot_id)
    if n_source <= driver_prune_threshold_keys:
        sorted_keys = sorted(r["doc_id"] for r in keys.collect())
        candidates, n_pruned = _prune_by_stats_local(entries, sorted_keys)
    else:
        candidates, n_pruned = _prune_by_stats(entries, keys)
    cand_paths = [e["file_path"] for e in candidates]

    # 2. probe: evaluate the matched cascade once, reduce per file + clause
    touched: list[str] = []
    clause_rows = [0] * len(clauses)
    if cand_paths and matched_clauses:
        probe_src = table.read_files(cand_paths, file_col="_file")
        if probe_columns is not None:
            need = sorted({*probe_columns, "doc_id"})
            probe_src = probe_src.select(*need, "_file")
        probed = (
            probe_src.join(
                keyside(srcd), probe_src["doc_id"] == F.col("s_doc_id"), "inner"
            )
            .withColumn("_action", _clause_action_idx(matched_clauses))
            .filter(F.col("_action") >= 0)
        )
        per_file = (
            probed.groupBy("_file")
            .pivot("_action", [i for i, _ in matched_clauses])
            .count()
            .collect()
        )
        for r in per_file:
            touched.append(r["_file"])
            for i, _ in matched_clauses:
                clause_rows[i] += r[str(i)] or 0
        touched = sorted(touched)
    n_updated = sum(
        clause_rows[i] for i, c in matched_clauses if c.action == "update"
    )
    n_deleted = sum(
        clause_rows[i] for i, c in matched_clauses if c.action == "delete"
    )

    # 3. rewrite touched files through the clause cascade
    out = None
    if touched:
        rows = table.scan(files=touched).join(
            keyside(srcd), F.col("doc_id") == F.col("s_doc_id"), "left"
        )
        action = F.when(
            F.col("s_doc_id").isNotNull(), _clause_action_idx(matched_clauses)
        ).otherwise(F.lit(-1))
        rows = rows.withColumn("_action", action)
        # drop rows claimed by a DELETE clause
        del_ids = [i for i, c in matched_clauses if c.action == "delete"]
        if del_ids:
            rows = rows.filter(~F.col("_action").isin(del_ids))
        proj = []
        for col in data_cols:
            expr = F.col(col)
            for i, c in matched_clauses:
                if c.action == "update" and col in (c.assignments or {}):
                    expr = F.when(
                        F.col("_action") == i, F.expr(c.assignments[col])
                    ).otherwise(expr)
            proj.append(expr.alias(col))
        out = rows.select(*proj)

    # 4. inserts: source keys matched nowhere in the candidates (keys
    # outside every candidate's range are unmatched by construction)
    n_inserted = 0
    if insert_clauses:
        matched_keys = (
            table.read_files(cand_paths).select("doc_id")
            if cand_paths
            else keys.limit(0)
        )
        unmatched = srcd.join(
            keyside(matched_keys),
            F.col("s_doc_id") == F.col("doc_id"),
            "left_anti",
        ).withColumn("_action", _clause_action_idx(insert_clauses))
        unmatched = unmatched.filter(F.col("_action") >= 0)
        proj = []
        for col in data_cols:
            expr = F.col(f"s_{col}")
            for i, c in insert_clauses:
                if col in (c.assignments or {}):
                    expr = F.when(
                        F.col("_action") == i, F.expr(c.assignments[col])
                    ).otherwise(expr)
            proj.append(expr.alias(col))
        ins_counts = (
            unmatched.groupBy("_action").count().collect()
        )
        for r in ins_counts:
            clause_rows[r["_action"]] += r["count"]
            n_inserted += r["count"]
        ins = unmatched.select(*proj)
        out = ins if out is None else out.unionByName(ins)

    added: list[dict] = []
    if out is not None:
        added = table.write_data_files(
            out, event_id, num_files=None, sub_dir="merged", shuffle=False
        )
    touched_set = set(touched)
    table.lineage.append(
        LineageRecord(
            run_id=event_id,
            operation="merge_conditional",
            group_id=event_id,
            partition=None,
            files_in=touched,
            files_out=[e["file_path"] for e in added],
            rows=sum(e["n_rows"] for e in added),
            bytes_in=sum(
                e["file_size"] for e in entries if e["file_path"] in touched_set
            ),
            bytes_out=sum(e["file_size"] for e in added),
            status=STATUS_DONE,
            duration_s=time.monotonic() - t0,
        )
    )
    snap = table.commit(
        operation="merge_conditional",
        added=added,
        removed_paths=touched_set,
        summary={
            "strategy": strategy,
            "inserted": n_inserted,
            "updated": n_updated,
            "deleted": n_deleted,
            "clauses": [
                f"WHEN {c.when} AND {c.condition or 'TRUE'} THEN {c.action}"
                for c in clauses
            ],
            "files_pruned_by_stats": n_pruned,
        },
        expected_parent_id=base.snapshot_id,
        event_id=event_id,
    )
    srcd.unpersist()
    return MergeConditionalResult(
        snapshot_id=snap.snapshot_id,
        files_touched=len(touched),
        files_pruned=n_pruned,
        files_out=len(added),
        inserted=n_inserted,
        updated=n_updated,
        deleted=n_deleted,
        clause_rows=clause_rows,
        strategy=strategy,
        duration_s=time.monotonic() - t0,
    )


def _verify_merge(
    table: TokenTable, before_sid: int, after_sid: int, changes: DataFrame
) -> None:
    """Row-level MERGE postconditions, computed distributed (no collect):
    upsert rows present with exactly the new content, deleted keys absent,
    untouched rows byte-identical (via digest of the complement)."""
    after = table.scan(after_sid)
    upserts = changes.filter(F.col("_op") == "upsert")
    # every upsert key appears exactly once with matching content
    bad_upserts = (
        upserts.alias("c")
        .join(after.alias("t"), "doc_id", "left")
        .filter(
            F.col("t.n_tok").isNull()
            | (F.col("t.tokens") != F.col("c.tokens"))
            | (F.col("t.source") != F.col("c.source"))
        )
        .count()
    )
    if bad_upserts:
        raise AssertionError(f"{bad_upserts} upserted rows missing or wrong after merge")
    deleted_present = (
        changes.filter(F.col("_op") == "delete").join(after, "doc_id", "left_semi").count()
    )
    if deleted_present:
        raise AssertionError(f"{deleted_present} deleted keys still present after merge")
    # complement (rows not referenced by any change) digest-stable
    from circus_train_spark.functions.digest import table_digest

    keys = changes.select("doc_id")
    before_rest = table.scan(before_sid).join(keys, "doc_id", "left_anti")
    after_rest = after.join(keys, "doc_id", "left_anti")
    if table_digest(before_rest) != table_digest(after_rest):
        raise AssertionError("rows not referenced by the change set were modified")
