"""MERGE INTO and conditional MERGE — copy-on-write file groups on the
row-level skeleton of ``operators/rowlevel.py``.

Change-set schema: the data columns plus ``_op`` ∈ {``upsert``, ``delete``}
(tokens/n_tok/source may be NULL for deletes); any other ``_op``, NULL
included, is rejected. ``upsert`` of a present key → UPDATE (row replaced),
of an absent key → INSERT; ``delete`` of a present key → DELETE (no-op if
absent).

Plan (joins on ``doc_id``): the source plan keeps only files whose
[min_doc_id, max_doc_id] range could hold a change key; ONE probe job joins
their ``doc_id`` column to the change keys — the reference's replica-side
hash probe, distributed (``core/replica/Replica.java:177-204,290-296``);
touched files are rewritten with every changed key **left-anti joined**
away (the propagate-deletes anti-join,
``core/replica/DestructiveReplica.java:83-127``) plus all upsert rows; one
atomic commit, whose ``verify=True`` postconditions run on the staged
snapshot before the head moves. Untouched files stay byte-identical. The
change side is broadcast up to ``rowlevel.BROADCAST_THRESHOLD_ROWS`` rows,
else Catalyst/AQE picks a sort-merge or shuffled-hash join.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators import rowlevel
from circus_train_spark.operators.rowlevel import (  # noqa: F401  (re-exported)
    _prune_by_stats,
    _prune_by_stats_local,
)

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


def merge_into(
    table: TokenTable,
    changes: DataFrame,
    verify: bool = True,
    run_id: str | None = None,
    extra_summary: dict | None = None,
) -> MergeResult:
    t0, base = time.monotonic(), table.current_snapshot()
    data_cols = [f.name for f in table.data_schema().fields]
    changes = changes.select(*data_cols, "_op").cache()
    try:
        plan = rowlevel.source_plan(table, base, changes)
        # the probe joins (key, _op), so ONE job yields the touched files,
        # the matched rows AND the matched upserts (= updates)
        per_file = rowlevel.probe(
            table,
            plan.candidates,
            lambda df: df.select("doc_id", "_file").join(
                plan.keyside(changes.select("doc_id", "_op")), "doc_id"
            ),
            n=F.count(F.lit(1)),
            nu=F.count(F.when(F.col("_op") == "upsert", 1)),
        )
        touched = sorted(per_file)
        n_updated = sum(r["nu"] for r in per_file.values())
        n_inserted = plan.n_upserts - n_updated
        n_deleted = sum(r["n"] for r in per_file.values()) - n_updated

        # few source-sorted upsert partitions, so the union doesn't fan tiny
        # writer files across every (task, source)
        out = (
            changes.filter(F.col("_op") == "upsert")
            .select(*data_cols)
            .repartition(max(1, plan.n_upserts // 100_000))
            .sortWithinPartitions("source")
        )
        if touched:
            survivors = table.scan(files=touched).join(
                plan.keyside(changes.select("doc_id")), "doc_id", "left_anti"
            )
            out = survivors.unionByName(out)
        with table.lineage.run(OP, run_id) as run:
            snap, added = rowlevel.finish(
                table, run, base,
                out=out, sub_dir="merged", removed=set(touched),
                rows=n_inserted + n_updated + n_deleted,
                summary={
                    "strategy": plan.strategy,
                    "inserted": n_inserted,
                    "updated": n_updated,
                    "deleted": n_deleted,
                    "files_pruned_by_stats": plan.n_pruned,
                    **(extra_summary or {}),
                },
                check=(
                    (lambda snap: _verify_merge(table, snap, changes)) if verify else None
                ),
            )
    finally:
        changes.unpersist()
    return MergeResult(
        snapshot_id=snap.snapshot_id,
        files_touched=len(touched),
        files_pruned=plan.n_pruned,
        files_out=len(added),
        inserted=n_inserted,
        updated=n_updated,
        deleted=n_deleted,
        strategy=plan.strategy,
        duration_s=time.monotonic() - t0,
    )


# ------------------------------------------------------- conditional MERGE
#
#   WHEN MATCHED [AND <cond>] THEN UPDATE SET col = <expr>, ...
#   WHEN MATCHED [AND <cond>] THEN DELETE
#   WHEN NOT MATCHED [AND <cond>] THEN INSERT [(col = <expr>, ...)]
#
# Conditions/expressions are Spark SQL over the TARGET row's columns plus
# the SOURCE row's as ``s_<col>`` (e.g. ``"s_n_tok > n_tok"``). The first
# clause whose condition holds wins (ANSI MERGE); a row no clause claims is
# left alone. Reference analogue: the per-partition create-vs-alter
# classification of ``core/replica/Replica.java:177-204`` per row.


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


def _clause_projection(
    data_cols: list[str], clauses: list[tuple[int, MergeClause]], prefix: str
) -> list:
    """Data columns read from ``prefix + col`` (target ``""``, source
    ``"s_"``), overridden by the assignments of the clause in ``_action``."""
    proj = []
    for col in data_cols:
        expr = F.col(f"{prefix}{col}")
        for i, c in clauses:
            if col in (c.assignments or {}):
                act = F.col("_action") == i
                expr = F.when(act, F.expr(c.assignments[col])).otherwise(expr)
        proj.append(expr.alias(col))
    return proj


def merge_conditional(
    table: TokenTable,
    source: DataFrame,
    clauses: list[MergeClause],
    probe_columns: list[str] | None = None,
    run_id: str | None = None,
) -> MergeConditionalResult:
    """Copy-on-write conditional MERGE: ONE probe job counts the matched
    cascade's actionable rows per candidate file and clause (reading only
    ``probe_columns`` plus ``doc_id`` when given) → ONLY files holding an
    actionable row are rewritten through the cascade → INSERT rows (source
    anti-join the candidates' keys) are appended → one atomic commit."""
    t0, base = time.monotonic(), table.current_snapshot()
    data_cols = [f.name for f in table.data_schema().fields]
    for c in clauses:
        c.validate(data_cols)
    matched_clauses = [(i, c) for i, c in enumerate(clauses) if c.when == "matched"]
    insert_clauses = [(i, c) for i, c in enumerate(clauses) if c.when == "not_matched"]
    srcd = source.select(*[F.col(c).alias(f"s_{c}") for c in data_cols]).cache()
    try:
        plan = rowlevel.source_plan(
            table, base, srcd.select(F.col("s_doc_id").alias("doc_id"))
        )

        def actionable(df: DataFrame) -> DataFrame:
            if probe_columns is not None:
                df = df.select(*sorted({*probe_columns, "doc_id"}), "_file")
            return (
                df.join(plan.keyside(srcd), F.col("doc_id") == F.col("s_doc_id"))
                .withColumn("_action", _clause_action_idx(matched_clauses))
                .filter(F.col("_action") >= 0)
            )

        per_file = rowlevel.probe(
            table,
            plan.candidates if matched_clauses else [],
            actionable,
            **{f"c{i}": F.count(F.when(F.col("_action") == i, 1))
               for i, _ in matched_clauses},
        )
        clause_rows = [0] * len(clauses)
        for i, _ in matched_clauses:
            clause_rows[i] = sum(r[f"c{i}"] for r in per_file.values())
        touched = sorted(per_file)
        n_updated, n_deleted = (
            sum(clause_rows[i] for i, c in matched_clauses if c.action == action)
            for action in ("update", "delete")
        )

        out = None
        if touched:
            rows = table.scan(files=touched).join(
                plan.keyside(srcd), F.col("doc_id") == F.col("s_doc_id"), "left"
            )
            action = F.when(
                F.col("s_doc_id").isNotNull(), _clause_action_idx(matched_clauses)
            ).otherwise(F.lit(-1))
            rows = rows.withColumn("_action", action)
            # drop rows claimed by a DELETE clause
            del_ids = [i for i, c in matched_clauses if c.action == "delete"]
            if del_ids:
                rows = rows.filter(~F.col("_action").isin(del_ids))
            out = rows.select(*_clause_projection(data_cols, matched_clauses, ""))

        # inserts: source keys matched nowhere in the candidates (keys
        # outside every candidate's range are unmatched by construction)
        n_inserted = 0
        if insert_clauses:
            matched_keys = table.read_files(
                plan.candidates,
                schema=T.StructType([T.StructField("doc_id", T.StringType())]),
            )
            unmatched = (
                srcd.join(
                    plan.keyside(matched_keys),
                    F.col("s_doc_id") == F.col("doc_id"),
                    "left_anti",
                )
                .withColumn("_action", _clause_action_idx(insert_clauses))
                .filter(F.col("_action") >= 0)
            )
            for r in unmatched.groupBy("_action").count().collect():
                clause_rows[r["_action"]] += r["count"]
                n_inserted += r["count"]
            ins = unmatched.select(*_clause_projection(data_cols, insert_clauses, "s_"))
            out = ins if out is None else out.unionByName(ins)

        with table.lineage.run("merge_conditional", run_id) as run:
            snap, added = rowlevel.finish(
                table, run, base,
                out=out, sub_dir="merged", removed=set(touched),
                rows=n_inserted + n_updated + n_deleted,
                summary={
                    "strategy": plan.strategy,
                    "inserted": n_inserted,
                    "updated": n_updated,
                    "deleted": n_deleted,
                    "clauses": [
                        f"WHEN {c.when} AND {c.condition or 'TRUE'} THEN {c.action}"
                        for c in clauses
                    ],
                    "files_pruned_by_stats": plan.n_pruned,
                },
            )
    finally:
        srcd.unpersist()
    return MergeConditionalResult(
        snapshot_id=snap.snapshot_id,
        files_touched=len(touched),
        files_pruned=plan.n_pruned,
        files_out=len(added),
        inserted=n_inserted,
        updated=n_updated,
        deleted=n_deleted,
        clause_rows=clause_rows,
        strategy=plan.strategy,
        duration_s=time.monotonic() - t0,
    )


def _verify_merge(table: TokenTable, snap, changes: DataFrame) -> None:
    """Row-level MERGE postconditions of the staged ``snap`` against the
    snapshot it lands on, computed distributed (no collect): upsert rows
    present with exactly the new content, deleted keys absent, untouched
    rows byte-identical (via digest of the complement)."""
    after = table.scan(snap.snapshot_id)
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
    before_rest = table.scan(snap.parent_id).join(keys, "doc_id", "left_anti")
    after_rest = after.join(keys, "doc_id", "left_anti")
    if table_digest(before_rest) != table_digest(after_rest):
        raise AssertionError("rows not referenced by the change set were modified")
