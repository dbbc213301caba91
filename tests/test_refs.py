"""Named refs (branches/tags) + write-audit-publish over the snapshot log.

Reference analogue: Circus Train publishes a fully-written replica location
in one atomic pointer swap (core/.../RenameTableOperation.java:42-70) and
never exposes half-written state to readers; refs generalize that cutover to
named lines of history, and WAP to audit-before-publish.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from circus_train_spark.meta.adapter import InMemoryCatalog
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.snapshot import CommitConflictError
from circus_train_spark.operators.delete import delete_where
from circus_train_spark.operators.expire import expire_snapshots
from circus_train_spark.operators.rowlevel import key_delete_file


@pytest.fixture()
def table(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(300), num_files=3)
    return t


def _extra(tokens_df, lo, hi):
    return tokens_df.orderBy("doc_id").limit(hi).subtract(
        tokens_df.orderBy("doc_id").limit(lo)
    )


def test_tag_pins_snapshot_through_expiry(table, tokens_df):
    t = table
    v1 = t.current_snapshot().snapshot_id
    d1 = t.table_digest()
    t.create_tag("v1", v1)
    for i in range(3):
        t.append(_extra(tokens_df, 300 + 50 * i, 350 + 50 * i), num_files=1)
    res = expire_snapshots(t, keep_last=1)
    # the tagged snapshot survives aggressive expiry; its files stay readable
    assert v1 in res.retained_snapshots
    assert t.table_digest(snapshot_id=v1) == d1
    assert t.scan(ref="v1").count() == 300
    # tags are immutable
    with pytest.raises(ValueError):
        t.create_tag("v1", t.current_snapshot().snapshot_id)
    # dropping the tag releases it on the next expiry
    t.drop_tag("v1")
    res2 = expire_snapshots(t, keep_last=1)
    assert v1 in res2.expired_snapshots


def test_branch_commits_diverge_from_main(table, tokens_df):
    t = table
    main_digest = t.table_digest()
    base = t.create_branch("exp")
    t.append(_extra(tokens_df, 300, 400), num_files=1, branch="exp")
    # branch sees the extra rows; main is untouched
    assert t.scan(ref="exp").count() == 400
    assert t.table_digest() == main_digest
    assert t.log.branch_head("exp") != base
    # a second branch commit advances the same ref
    t.append(_extra(tokens_df, 400, 450), num_files=1, branch="exp")
    assert t.scan(ref="exp").count() == 450
    # main commits interleave without id collisions
    t.append(_extra(tokens_df, 450, 500), num_files=1)
    ids = t.log.all_snapshot_ids()
    assert len(ids) == len(set(ids))
    # branch head snapshot is expiry-pinned
    res = expire_snapshots(t, keep_last=1)
    assert t.log.branch_head("exp") in res.retained_snapshots
    assert t.scan(ref="exp").count() == 450
    with pytest.raises(KeyError):
        t.append(tokens_df.limit(1), branch="nope")


def test_wap_stage_audit_publish_fast_forward(table, tokens_df):
    t = table
    head = t.current_snapshot().snapshot_id
    staged = t.append(_extra(tokens_df, 300, 380), num_files=1, stage_only=True)
    # invisible to main readers until published
    assert t.current_snapshot().snapshot_id == head
    assert t.scan().count() == 300
    # auditable by snapshot id (the "audit" step reads the staged state)
    audit = t.scan(snapshot_id=staged.snapshot_id)
    assert audit.count() == 380
    assert audit.filter(F.col("n_tok") <= 0).count() == 0
    pub = t.publish(staged.snapshot_id)
    # fast-forward: head IS the staged snapshot (no new commit)
    assert pub.snapshot_id == staged.snapshot_id
    assert t.current_snapshot().snapshot_id == staged.snapshot_id
    assert t.scan().count() == 380


def test_wap_publish_cherry_picks_over_moved_head(table, tokens_df):
    t = table
    staged = t.append(_extra(tokens_df, 300, 380), num_files=1, stage_only=True)
    # head moves while the staged snapshot is being audited
    t.append(_extra(tokens_df, 380, 430), num_files=1)
    pub = t.publish(staged.snapshot_id)
    assert pub.operation == "publish"
    assert pub.summary["published_from"] == staged.snapshot_id
    # both the concurrent append and the staged rows are present
    assert t.scan().count() == 300 + 80 + 50
    ids = t.log.all_snapshot_ids()
    assert len(ids) == len(set(ids))


def test_refs_on_in_memory_catalog(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "mem"), catalog=InMemoryCatalog())
    t.append(tokens_df.limit(100), num_files=1)
    v1 = t.create_tag("v1")
    t.create_branch("exp")
    t.append(_extra(tokens_df, 100, 150), num_files=1, branch="exp")
    assert t.scan(ref="exp").count() == 150
    assert t.scan(ref="v1").count() == 100
    assert t.scan().count() == 100
    staged = t.append(_extra(tokens_df, 150, 170), num_files=1, stage_only=True)
    assert t.scan().count() == 100
    t.publish(staged.snapshot_id)
    assert t.scan().count() == 120
    assert v1 == 2  # create=1, append=2


def test_stale_fast_forward_raises(table, tokens_df):
    t = table
    staged = t.append(_extra(tokens_df, 300, 320), num_files=1, stage_only=True)
    t.append(_extra(tokens_df, 320, 340), num_files=1)
    with pytest.raises(CommitConflictError):
        t.log.fast_forward(staged.snapshot_id, staged.parent_id)


def test_publish_over_concurrent_cow_delete_of_its_input_raises(table):
    """A staged rewrite of every file, published after a copy-on-write
    delete rewrote some of them, must not land: it would bring the deleted
    rows back."""
    t = table
    eid = "staged-rewrite"
    staged = t.commit(
        operation="rewrite",
        added=t.write_data_files(t.scan(), eid, num_files=1),
        removed_paths=set(t.file_paths()),
        stage_only=True,
        event_id=eid,
    )
    victim = t.scan().orderBy("doc_id").first()["doc_id"]
    delete_where(t, f"doc_id = '{victim}'", verify=False)
    head = t.current_snapshot().snapshot_id
    with pytest.raises(CommitConflictError, match="re-plan required"):
        t.publish(staged.snapshot_id)
    assert t.current_snapshot().snapshot_id == head
    assert t.scan().count() == 299


def test_publish_keeps_staged_mor_delete_over_moved_head(table, tokens_df):
    """A staged merge-on-read delete, published after a concurrent append,
    carries its delete entry onto the new head."""
    t = table
    eid = "staged-delete"
    keys = t.scan().filter("n_tok < 32").select("doc_id")
    n_deleted = keys.count()
    assert 0 < n_deleted < 300
    staged = t.commit(
        operation="delete",
        added_deletes=[key_delete_file(t, eid, "eq", keys, t.file_paths())],
        stage_only=True,
        event_id=eid,
    )
    t.append(_extra(tokens_df, 300, 350), num_files=1)
    pub = t.publish(staged.snapshot_id)
    assert pub.operation == "publish"
    assert len(t.delete_entries()) == 1
    assert t.scan().count() == 350 - n_deleted


def test_expiry_keeps_unpublished_staged_snapshot_and_its_parent(table, tokens_df):
    """A staged snapshot is on no ref's chain: expiry by count keeps it and
    its parent (whose files a late publish's cherry-pick reads); only
    ``older_than_ms`` expires it."""
    import time

    t = table
    staged = t.append(_extra(tokens_df, 300, 380), num_files=1, stage_only=True)
    t.append(_extra(tokens_df, 380, 430), num_files=1)
    res = expire_snapshots(t, keep_last=1)
    assert {staged.snapshot_id, staged.parent_id} <= set(res.retained_snapshots)
    t.publish(staged.snapshot_id)
    assert t.scan().count() == 300 + 80 + 50
    res = expire_snapshots(t, keep_last=1, older_than_ms=int(time.time() * 1000) + 60_000)
    assert staged.snapshot_id in res.expired_snapshots
    assert t.scan().count() == 300 + 80 + 50
