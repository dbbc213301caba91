"""Rollback + CDC read: metadata-only restore, manifest-pruned change feed."""

import pytest
from pyspark.sql import functions as F

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.changes import table_changes
from circus_train_spark.operators.compact import compact
from circus_train_spark.operators.merge import merge_into
from circus_train_spark.operators.rollback import rollback


@pytest.fixture()
def table(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(400), num_files=4)
    return t


def _changes_df(spark, t, n_del=20, n_upd=10):
    cols = [f.name for f in t.data_schema().fields]
    scan = t.scan()
    dele = scan.orderBy("doc_id").limit(n_del).select(*cols).withColumn(
        "_op", F.lit("delete")
    )
    upd = (
        scan.orderBy(F.desc("doc_id"))
        .limit(n_upd)
        .withColumn("n_tok", F.col("n_tok") + 1)
        .select(*cols)
        .withColumn("_op", F.lit("upsert"))
    )
    return dele.unionByName(upd)


def test_rollback_restores_scan_and_is_metadata_only(table, spark, tmp_path):
    t = table
    base = t.current_snapshot().snapshot_id
    digest = t.table_digest()
    files = set(t.file_paths())
    merge_into(t, _changes_df(spark, t), verify=False)
    assert t.table_digest() != digest

    snap = rollback(t, base)
    assert snap.operation == "rollback"
    assert t.table_digest() == digest
    # metadata-only: the restored state references the ORIGINAL files
    assert set(t.file_paths()) == files
    # rollback of the head is a no-op
    assert rollback(t, snap.snapshot_id).snapshot_id == snap.snapshot_id
    # unknown/expired target raises up front
    with pytest.raises(FileNotFoundError):
        rollback(t, 9999)


def test_table_changes_classifies_merge_delta(table, spark):
    t = table
    base = t.current_snapshot().snapshot_id
    ch = _changes_df(spark, t, n_del=20, n_upd=10)
    merge_into(t, ch, verify=False)

    feed = table_changes(t, base)
    by = {r["doc_id"]: r["_change"] for r in feed.collect()}
    deleted_ids = {r["doc_id"] for r in ch.filter("_op = 'delete'").collect()}
    updated_ids = {r["doc_id"] for r in ch.filter("_op = 'upsert'").collect()}
    # deletes appear once as 'delete'; updates as delete+insert pairs
    assert feed.count() == len(deleted_ids) + 2 * len(updated_ids)
    for d in deleted_ids:
        assert by[d] == "delete"
    pairs = (
        feed.filter(F.col("doc_id").isin(*updated_ids))
        .groupBy("doc_id")
        .agg(F.collect_set("_change").alias("ops"))
        .collect()
    )
    assert all(set(r["ops"]) == {"insert", "delete"} for r in pairs)


def test_table_changes_prunes_untouched_files(table, spark):
    """A rewrite-only commit (compact) between the snapshots yields an
    EMPTY change feed — carried-over rows cancel; and a no-op interval
    returns an empty typed frame."""
    t = table
    base = t.current_snapshot().snapshot_id
    assert table_changes(t, base).count() == 0  # same snapshot
    compact(t, target_file_bytes=512 * 1024 * 1024)
    feed = table_changes(t, base)
    assert feed.count() == 0
    assert feed.columns[-1] == "_change"


def test_table_changes_pure_append(table, spark, tokens_df):
    t = table
    base = t.current_snapshot().snapshot_id
    extra = tokens_df.limit(450).subtract(tokens_df.limit(400))
    t.append(extra, num_files=1)
    feed = table_changes(t, base)
    assert feed.filter("_change = 'insert'").count() == 50
    assert feed.filter("_change = 'delete'").count() == 0


def test_rollback_restores_pending_mor_deletes(table):
    """Rolling back to a snapshot with pending merge-on-read deletes
    restores its delete state along with its manifests, so the rolled-back
    scan equals the target's scan."""
    from circus_train_spark.operators.delete import delete_where

    t = table
    key = t.scan().orderBy("doc_id").first()["doc_id"]
    delete_where(t, f"doc_id = '{key}'", mode="mor")
    target = t.current_snapshot().snapshot_id
    assert t.delete_manifests(target)
    digest = t.table_digest(target)
    compact(t, target_file_bytes=64 * 1024 * 1024, verify=False)
    assert not t.delete_manifests()  # compaction applied and purged them
    rollback(t, target)
    assert t.delete_manifests() == t.delete_manifests(target)
    assert t.table_digest() == digest
    assert t.scan().filter(f"doc_id = '{key}'").count() == 0
