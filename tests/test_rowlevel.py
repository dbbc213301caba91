"""The shared row-level change path under DELETE, UPDATE, MERGE and
conditional MERGE: Spark-job budgets (with those of compaction, clustering,
manifest rewrite and rollback on the same table), the large-change-set
MERGE plans and change-set validation."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators import rowlevel
from circus_train_spark.operators.cluster import cluster
from circus_train_spark.operators.compact import compact
from circus_train_spark.operators.delete import delete_where, update_where
from circus_train_spark.operators.manifest_rewrite import rewrite_manifests
from circus_train_spark.operators.merge import (
    MergeClause,
    merge_conditional,
    merge_into,
)
from circus_train_spark.operators.rollback import rollback
from circus_train_spark.sources.generator import generate_changes, generate_tokens

N_ROWS = 2_000
KEYS = ", ".join(f"'doc-{i:016x}'" for i in (5, 123, 1000, 1777))
PREDICATE = f"doc_id IN ({KEYS})"


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    t = TokenTable.create(spark, str(tmp_path_factory.mktemp("rowlevel") / "tbl"))
    rows = generate_tokens(spark, N_ROWS, seed=11, partitions=4, max_tok=64)
    t.append(rows, num_files=4)
    return t, t.current_snapshot().snapshot_id


@pytest.fixture()
def table(base_table):
    """The tiny table, rolled back to its freshly appended state."""
    t, sid = base_table
    rollback(t, sid)
    return t


def _cond_source(spark):
    """Every 7th existing key with a longer n_tok, plus 20 new keys."""
    base = generate_tokens(spark, N_ROWS, seed=11, partitions=4, max_tok=64)
    old = base.filter(F.crc32("doc_id") % 7 == 0)
    old = old.withColumn("n_tok", F.col("n_tok") + 1)
    new = generate_tokens(spark, 20, seed=12, max_tok=64).withColumn(
        "doc_id", F.concat(F.lit("new-"), "doc_id")
    )
    return old.unionByName(new)


CLAUSES = [
    MergeClause(
        "matched",
        "update",
        condition="s_n_tok > n_tok AND n_tok % 3 <> 0",
        assignments={"n_tok": "s_n_tok"},
    ),
    MergeClause("matched", "delete", condition="n_tok % 3 = 0"),
    MergeClause("not_matched", "insert"),
]


def _split_manifest(t: TokenTable) -> TokenTable:
    """Move one entry into a manifest of its own (a metadata-only commit,
    no Spark job), so there are two manifests to rewrite."""
    e = t.manifest_entries()[0]
    t.commit(operation="split", removed_paths={e["file_path"]}, added=[e])
    return t


def _count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Upper bounds on Spark jobs per call on the tiny table (verify off unless
# named). Later changes may lower them, never raise them.
JOB_BUDGET = {
    "delete-cow": (5, lambda t, s: delete_where(t, PREDICATE, verify=False)),
    "delete-mor": (
        3,
        lambda t, s: delete_where(t, PREDICATE, mode="mor", verify=False),
    ),
    "delete-mor-pos": (
        3,
        lambda t, s: delete_where(t, PREDICATE, mode="mor-pos", verify=False),
    ),
    "update-cow": (5, lambda t, s: update_where(t, PREDICATE, {"n_tok": "n_tok + 1"})),
    "update-mor": (
        6,
        lambda t, s: update_where(t, PREDICATE, {"n_tok": "n_tok + 1"}, mode="mor"),
    ),
    "merge-into": (
        11,
        lambda t, s: merge_into(t, generate_changes(s, N_ROWS, seed=11), verify=False),
    ),
    "merge-conditional": (
        14,
        lambda t, s: merge_conditional(
            t, _cond_source(s), CLAUSES, probe_columns=["n_tok"]
        ),
    ),
    "compact": (1, lambda t, s: compact(t, verify=False)),
    "cluster": (4, lambda t, s: cluster(t, verify=False)),
    # the verify check runs inside the commit, on the staged snapshot
    "compact-verify": (6, lambda t, s: compact(t, verify=True)),
    "cluster-verify": (8, lambda t, s: cluster(t, verify=True)),
    "rewrite-manifests": (0, lambda t, s: rewrite_manifests(_split_manifest(t))),
    "rollback": (0, lambda t, s: rollback(t, t.current_snapshot().parent_id)),
}


@pytest.mark.parametrize("name", list(JOB_BUDGET))
def test_rowlevel_job_budget(spark, table, name):
    budget, call = JOB_BUDGET[name]
    sid = table.current_snapshot().snapshot_id
    n = _count_jobs(spark, lambda: call(table, spark))
    assert table.current_snapshot().snapshot_id != sid  # the call committed
    assert n <= budget, f"{name}: {n} Spark jobs, budget {budget}"


def _both_merges(spark, t: TokenTable, sid: int):
    rollback(t, sid)
    m = merge_into(t, generate_changes(spark, N_ROWS, seed=11), verify=False)
    c = merge_conditional(t, _cond_source(spark), CLAUSES, probe_columns=["n_tok"])
    return m, c, t.table_digest()


def test_large_change_set_plans_match_small(spark, base_table, monkeypatch):
    """With both thresholds forced low, the two merges run the aggregation
    pre-pass, the distributed prefix-bucket prune and the un-hinted
    (sort-merge) joins, and land on the same rows and counts as the
    collected, broadcast path."""
    t, sid = base_table
    small = _both_merges(spark, t, sid)
    pruned = []
    prune = rowlevel._prune_by_stats
    monkeypatch.setattr(rowlevel, "BROADCAST_THRESHOLD_ROWS", 0)
    monkeypatch.setattr(rowlevel, "DRIVER_PRUNE_THRESHOLD_KEYS", 0)
    monkeypatch.setattr(
        rowlevel, "_prune_by_stats", lambda e, k: pruned.append(1) or prune(e, k)
    )
    large = _both_merges(spark, t, sid)
    assert len(pruned) == 2
    for a, b in zip(small[:2], large[:2]):
        assert (a.strategy, b.strategy) == ("broadcast", "sort_merge")
        counts = ("inserted", "updated", "deleted", "files_touched", "files_out")
        assert [getattr(a, k) for k in counts] == [getattr(b, k) for k in counts]
    assert small[1].clause_rows == large[1].clause_rows
    assert small[0].inserted and small[0].updated and small[0].deleted
    assert small[1].inserted and small[1].updated and small[1].deleted
    assert small[2] == large[2]


@pytest.mark.parametrize("large", [False, True])
def test_merge_rejects_unknown_op(spark, table, monkeypatch, large):
    """A typo or NULL ``_op`` used to count as a delete; now the pre-pass
    rejects it before anything is written, on both change-set paths."""
    if large:
        monkeypatch.setattr(rowlevel, "DRIVER_PRUNE_THRESHOLD_KEYS", 0)
    changes = generate_changes(spark, N_ROWS, seed=11).withColumn(
        "_op",
        F.when(F.col("doc_id") == "doc-0000000000000001", F.lit("updte"))
        .when(F.col("_op") == "delete", F.lit(None))
        .otherwise(F.col("_op")),
    )
    sid = table.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="'updte', None"):
        merge_into(table, changes)
    assert table.current_snapshot().snapshot_id == sid


@pytest.mark.parametrize("large", [False, True])
def test_merge_rejects_null_key(spark, table, monkeypatch, large):
    """A NULL ``doc_id`` in the change set is named as such on both
    change-set paths (it used to be a bare ``TypeError`` when collected, and
    a "duplicate keys" error from the aggregation, which skips NULLs)."""
    if large:
        monkeypatch.setattr(rowlevel, "BROADCAST_THRESHOLD_ROWS", 0)
        monkeypatch.setattr(rowlevel, "DRIVER_PRUNE_THRESHOLD_KEYS", 0)
    changes = generate_changes(spark, N_ROWS, seed=11).withColumn(
        "doc_id",
        F.when(F.col("doc_id") != "doc-0000000000000001", F.col("doc_id")),
    )
    sid = table.current_snapshot().snapshot_id
    n_lineage = len(table.lineage.records("merge"))
    with pytest.raises(ValueError, match="has 1 row\\(s\\) with a NULL doc_id"):
        merge_into(table, changes)
    assert table.current_snapshot().snapshot_id == sid
    # rejected before the first write: no lineage row, not even a failed one
    assert len(table.lineage.records("merge")) == n_lineage
