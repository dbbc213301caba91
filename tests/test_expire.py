"""Snapshot expiry + manifest rewrite."""

import os

import pytest

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.compact import compact
from circus_train_spark.operators.expire import expire_snapshots
from circus_train_spark.operators.manifest_rewrite import rewrite_manifests


@pytest.fixture()
def table3(spark, tmp_path, tokens_df):
    """Table with 3 data snapshots: append, append, compact."""
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(2000), num_files=8)
    t.append(tokens_df.filter("n_tok > 100").limit(2000), num_files=8)
    compact(t, target_file_bytes=64 * 1024 * 1024, verify=False)
    return t


def test_expire_deletes_only_unreachable(table3):
    t = table3
    head = t.log.current_id()
    live_before = set(t.file_paths())
    digest = t.table_digest()
    res = expire_snapshots(t, keep_last=1)
    assert res.expired_snapshots and head not in res.expired_snapshots
    # current snapshot still scans identically
    assert t.table_digest() == digest
    # all live files still exist; compacted-away inputs are gone
    for p in live_before:
        assert os.path.exists(p)
    assert res.data_files_deleted > 0
    assert res.bytes_reclaimed > 0
    # expired snapshot json removed, history now shorter
    assert set(t.log.all_snapshot_ids()) == set(res.retained_snapshots)


def test_expire_dry_run_deletes_nothing(table3):
    t = table3
    before = set(t._walk_parquet(t.data_dir))
    res = expire_snapshots(t, keep_last=1, dry_run=True)
    assert res.data_files_deleted > 0
    assert set(t._walk_parquet(t.data_dir)) == before


def test_expire_keeps_shared_files(table3):
    """Files added before compaction but NOT compacted away (none here) and
    files shared between retained snapshots must survive. With keep_last=2,
    the pre-compact snapshot is retained so nothing may be deleted."""
    t = table3
    n_files_before = len(t._walk_parquet(t.data_dir))
    res = expire_snapshots(t, keep_last=3)
    assert res.data_files_deleted == 0
    assert len(t._walk_parquet(t.data_dir)) == n_files_before


def test_pinned_reader_survives_commit_then_expiry_removes(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    s1 = t.append(tokens_df.limit(1000), num_files=4)
    pinned = t.scan(s1.snapshot_id)  # reader pins snapshot 1 (lazy plan)
    compact(t, target_file_bytes=64 * 1024 * 1024, verify=False)
    # concurrent commit happened; pinned reader still evaluates fine
    assert pinned.count() == 1000
    expire_snapshots(t, keep_last=1)
    # after expiry the old files are gone — new readers use the head
    assert t.scan().count() == 1000


def test_rewrite_manifests(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tblm"))
    t.append(tokens_df.limit(1000), num_files=2)
    t.append(tokens_df.filter("n_tok > 500").limit(500), num_files=2)
    t.append(tokens_df.filter("n_tok <= 20").limit(500), num_files=2)
    base = t.current_snapshot()
    assert len(base.manifests) >= 2
    digest = t.table_digest()
    res = rewrite_manifests(t, target_manifests=1)
    assert res.snapshot_id is not None
    assert res.manifests_after == 1
    snap = t.current_snapshot()
    assert snap.operation == "rewrite_manifests"
    assert len(snap.manifests) == 1
    assert t.table_digest() == digest
    # noop when already compact enough
    res2 = rewrite_manifests(t, target_manifests=1)
    assert res2.snapshot_id is None


def test_rewrite_manifests_keeps_snapshot_state(spark, tmp_path, tokens_df):
    """The manifest rewrite commits straight through the snapshot log; it
    must still carry every piece of snapshot state forward — pending MOR
    deletes (else deleted rows reappear), views and artifacts."""
    from circus_train_spark.operators.delete import delete_where

    t = TokenTable.create(spark, str(tmp_path / "tbls"))
    t.append(tokens_df.limit(1000), num_files=2)
    t.append(tokens_df.filter("n_tok > 500").limit(500), num_files=2)
    art = tmp_path / "schema.avsc"
    art.write_text('{"type": "record"}')
    t.attach_artifact(str(art))
    t.create_view("long_docs", "SELECT doc_id FROM tok WHERE n_tok > 100")
    key = t.scan().orderBy("doc_id").first()["doc_id"]
    delete_where(t, f"doc_id = '{key}'", mode="mor")
    before = (t.table_digest(), t.views(), t.artifacts(), t.delete_manifests())
    assert before[3], "the delete must stay merge-on-read"

    res = rewrite_manifests(t, target_manifests=1)
    assert res.snapshot_id == t.current_snapshot().snapshot_id
    assert (t.table_digest(), t.views(), t.artifacts(), t.delete_manifests()) == before
    assert t.scan().filter(f"doc_id = '{key}'").count() == 0
