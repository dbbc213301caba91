"""Row-level DELETE / UPDATE by predicate (copy-on-write, three-way split).

Reference analogue: destructive replication drops replica partitions via
metadata before any data I/O (core/replica/DestructiveReplica.java:83-127).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from circus_train_spark.functions.digest import table_digest
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.delete import delete_where, update_where


@pytest.fixture()
def table(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=8)
    return t


def test_delete_where_matches_filter_semantics(table, tokens_df):
    pred = "n_tok > 100 AND source <> 'web'"
    expected = table_digest(tokens_df.filter(f"NOT ({pred}) OR ({pred}) IS NULL"))
    res = delete_where(table, pred)
    assert table_digest(table.scan()) == expected
    assert res.rows_deleted == tokens_df.filter(pred).count()
    assert table.current_snapshot().operation == "delete"


def test_delete_full_file_is_metadata_only(table, tokens_df):
    # files are written single-source, so a whole-source predicate drops
    # those files without any rewrite
    before = {e["file_path"] for e in table.manifest_entries()}
    res = delete_where(table, "source = 'books'")
    assert res.files_dropped > 0
    assert res.files_rewritten == 0
    after = {e["file_path"] for e in table.manifest_entries()}
    assert after < before  # strictly fewer files, none added
    assert table.scan().filter("source = 'books'").count() == 0


def test_delete_untouched_files_not_rewritten(table):
    before = {e["file_path"] for e in table.manifest_entries()}
    res = delete_where(table, "source = 'patents' AND n_tok % 2 = 0")
    after = {e["file_path"] for e in table.manifest_entries()}
    # only the patents files were touched; everything else is byte-identical
    assert before & after  # untouched files carried forward
    assert res.files_untouched > 0


def test_delete_no_match_is_noop(table):
    head = table.current_snapshot().snapshot_id
    res = delete_where(table, "n_tok < 0")
    assert res.rows_deleted == 0
    assert table.current_snapshot().snapshot_id == head  # no commit


def test_delete_manifest_range_prune(spark, tmp_path, tokens_df):
    # two appends with disjoint n_tok ranges → disjoint per-file stats; the
    # range hint keeps the low-range files out of the classify job entirely
    t = TokenTable.create(spark, str(tmp_path / "tbl2"))
    t.append(tokens_df.filter("n_tok <= 100"), num_files=2)
    t.append(tokens_df.filter("n_tok > 100"), num_files=2)
    res = delete_where(t, "n_tok > 100", n_tok_range=(101, 1 << 30))
    assert res.files_pruned >= 2
    assert t.scan().filter("n_tok > 100").count() == 0
    assert t.scan().count() == tokens_df.filter("n_tok <= 100").count()


def test_update_where(table, tokens_df):
    res = update_where(
        table, "source = 'wiki'", {"source": "'wiki_clean'"}
    )
    assert res.rows_updated == tokens_df.filter("source = 'wiki'").count()
    assert table.scan().filter("source = 'wiki'").count() == 0
    expected = table_digest(
        tokens_df.withColumn(
            "source",
            F.when(F.col("source") == "wiki", F.lit("wiki_clean")).otherwise(
                F.col("source")
            ),
        )
    )
    assert table_digest(table.scan()) == expected


def test_update_expression_references_old_row(table, tokens_df):
    update_where(table, "source = 'legal'", {"n_tok": "n_tok + 1000"})
    got = table.scan().filter("source = 'legal'").agg(F.sum("n_tok")).collect()[0][0]
    want = (
        tokens_df.filter("source = 'legal'")
        .agg(F.sum(F.col("n_tok") + 1000))
        .collect()[0][0]
    )
    assert got == want


def test_update_rejects_key_and_unknown_columns(table):
    with pytest.raises(ValueError):
        update_where(table, "true", {"doc_id": "'x'"})
    with pytest.raises(ValueError):
        update_where(table, "true", {"nope": "1"})


# ---------------------------------------------------- merge-on-read deletes


def test_mor_delete_writes_zero_data_files(table, tokens_df):
    """The write-amplification contract: a 1-row MOR delete rewrites and
    drops ZERO data files — it only adds one small equality-delete file."""
    victim = tokens_df.select("doc_id").orderBy("doc_id").first()["doc_id"]
    files_before = {e["file_path"] for e in table.manifest_entries()}
    res = delete_where(table, f"doc_id = '{victim}'", mode="mor")
    assert res.rows_deleted == 1
    assert res.files_rewritten == 0
    assert res.files_dropped == 0
    assert res.delete_files_written == 1
    # every data file carried forward byte-identical
    assert {e["file_path"] for e in table.manifest_entries()} == files_before
    # logical scan no longer sees the row
    assert table.scan().filter(F.col("doc_id") == victim).count() == 0
    assert table.current_snapshot().summary["mode"] == "mor"


def test_mor_delete_scan_equals_cow_delete(spark, tmp_path, tokens_df):
    pred = "n_tok % 13 = 5"
    t_cow = TokenTable.create(spark, str(tmp_path / "cow"))
    t_cow.append(tokens_df, num_files=8)
    t_mor = TokenTable.create(spark, str(tmp_path / "mor"))
    t_mor.append(tokens_df, num_files=8)
    delete_where(t_cow, pred, mode="cow")
    res = delete_where(t_mor, pred, mode="mor", mor_max_fraction=1.0)
    assert res.files_rewritten == 0 and res.delete_files_written == 1
    assert table_digest(t_mor.scan()) == table_digest(t_cow.scan())
    # fast digest (hidden row-hash column) agrees with the logical scan
    assert t_mor.table_digest(fast=True) == t_cow.table_digest(fast=True)


def test_mor_auto_mode_picks_by_touched_fraction(table):
    # a tiny predicate -> mor; a huge one -> cow
    res_small = delete_where(table, "n_tok = 77", mode="auto")
    assert res_small.delete_files_written == 1 or res_small.rows_deleted == 0
    res_big = delete_where(table, "n_tok > 64", mode="auto")
    if res_big.rows_deleted:
        assert res_big.delete_files_written == 0  # fell back to copy-on-write


def test_compact_applies_and_purges_mor_deletes(spark, tmp_path, tokens_df):
    from circus_train_spark.operators.compact import compact

    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=8)
    pred = "n_tok % 11 = 3"
    expected = table_digest(tokens_df.filter(f"NOT ({pred})"))
    res = delete_where(t, pred, mode="mor", mor_max_fraction=1.0)
    assert res.delete_files_written == 1
    assert t.delete_entries(), "delete entry must be pending before compact"
    assert table_digest(t.scan()) == expected
    cres = compact(t, target_file_bytes=512 * 1024 * 1024)
    assert cres.snapshot_id is not None
    # compaction physically applied the keys and purged the delete file
    assert t.delete_entries() == []
    assert "delete_manifests" not in t.current_snapshot().summary
    assert table_digest(t.scan()) == expected
    # physical row accounting now matches the logical table
    n_manifest = sum(e["n_rows"] for e in t.manifest_entries())
    assert n_manifest == t.scan().count()


def test_mor_reinsert_after_delete_survives(spark, tmp_path, tokens_df):
    """A key re-inserted AFTER its MOR delete must not be suppressed by the
    pending delete file (target-file scoping = sequence-number rule)."""
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=4)
    row = tokens_df.orderBy("doc_id").limit(1)
    victim = row.first()["doc_id"]
    delete_where(t, f"doc_id = '{victim}'", mode="mor")
    assert t.scan().filter(F.col("doc_id") == victim).count() == 0
    t.append(row)  # re-insert the same doc_id
    assert t.scan().filter(F.col("doc_id") == victim).count() == 1
    # and compaction keeps exactly the re-inserted copy
    from circus_train_spark.operators.compact import compact

    compact(t, target_file_bytes=512 * 1024 * 1024)
    assert t.scan().filter(F.col("doc_id") == victim).count() == 1


def test_mor_delete_files_tracked_by_housekeeping(spark, tmp_path, tokens_df):
    """Orphan removal must never reap a live equality-delete key file; after
    compaction purges it, the key file becomes reclaimable."""
    import os

    from circus_train_spark.operators.compact import compact
    from circus_train_spark.operators.expire import expire_snapshots
    from circus_train_spark.operators.housekeeping import remove_orphan_files

    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=4)
    delete_where(t, "n_tok % 17 = 2", mode="mor", mor_max_fraction=1.0)
    key_file = t.delete_entries()[0]["file_path"]
    future = 10**15  # far past any grace period
    remove_orphan_files(t, now_ms=future)
    assert os.path.exists(key_file), "live delete key file reaped as orphan"
    expected = table_digest(t.scan())
    compact(t, target_file_bytes=512 * 1024 * 1024)
    expire_snapshots(t, keep_last=1)
    remove_orphan_files(t, now_ms=future)
    assert not os.path.exists(key_file), "purged delete key file not reclaimed"
    assert table_digest(t.scan()) == expected


def test_mor_update_write_amp_and_content(spark, tmp_path, tokens_df):
    """MOR UPDATE: only the matched rows are written + one delete file;
    no data file is rewritten; scan equals the copy-on-write result."""
    t_cow = TokenTable.create(spark, str(tmp_path / "cow"))
    t_cow.append(tokens_df, num_files=8)
    t_mor = TokenTable.create(spark, str(tmp_path / "mor"))
    t_mor.append(tokens_df, num_files=8)
    pred, assign = "n_tok % 9 = 4", {"source": "concat(source, '_u')"}
    update_where(t_cow, pred, assign, mode="cow")
    files_before = {e["file_path"] for e in t_mor.manifest_entries()}
    res = update_where(t_mor, pred, assign, mode="mor", mor_max_fraction=1.0)
    assert res.files_rewritten == 0 and res.delete_files_written == 1
    assert files_before < {e["file_path"] for e in t_mor.manifest_entries()}
    assert table_digest(t_mor.scan()) == table_digest(t_cow.scan())
    assert t_mor.scan().count() == tokens_df.count()
    # compaction purges; content unchanged
    from circus_train_spark.operators.compact import compact

    compact(t_mor, target_file_bytes=512 * 1024 * 1024)
    assert t_mor.delete_entries() == []
    assert table_digest(t_mor.scan()) == table_digest(t_cow.scan())


def test_scan_as_of_timestamp(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(100), num_files=1)
    ts1 = t.current_snapshot().timestamp_ms
    import time as _t

    _t.sleep(0.01)
    t.append(tokens_df.limit(300).subtract(tokens_df.limit(100)), num_files=1)
    assert t.scan(as_of_ms=ts1).count() == 100
    assert t.scan(as_of_ms=t.current_snapshot().timestamp_ms).count() == 300
    with pytest.raises(LookupError):
        t.scan(as_of_ms=ts1 - 10_000_000)
    with pytest.raises(ValueError):
        t.scan(as_of_ms=ts1, snapshot_id=1)


def test_mor_delete_state_survives_concurrent_rebase(spark, tmp_path, tokens_df):
    """A stale-parent append that rebases onto a merge-on-read delete
    commit must carry the pending delete manifests forward: the deleted
    keys stay invisible and compaction still purges them later."""
    from circus_train_spark.operators.compact import compact
    from circus_train_spark.operators.delete import delete_where

    t = TokenTable.create(spark, str(tmp_path / "morcc"))
    t.append(tokens_df.limit(400), num_files=8)
    base = t.current_snapshot().snapshot_id

    # stage an append against `base`, then land a MoR delete first
    extra = tokens_df.limit(450).subtract(tokens_df.limit(400)).limit(20)
    entries = t.write_data_files(extra, "cc-append", num_files=1)
    res = delete_where(t, "n_tok < 32", mode="mor", mor_max_fraction=1.0, verify=False)
    assert res.delete_files_written >= 1
    n_after_delete = t.scan().count()
    assert n_after_delete < 400

    snap = t.commit(operation="append", added=entries, expected_parent_id=base)
    # rebased onto the delete commit: manifests carried forward
    assert t.delete_manifests(snap.snapshot_id), "delete state lost in rebase"
    assert t.scan().count() == n_after_delete + 20  # deletes still applied

    # compaction purges the carried state and preserves content
    d_before = t.table_digest()
    compact(t, target_file_bytes=512 * 1024 * 1024, verify=False)
    assert not t.delete_manifests()
    assert t.table_digest() == d_before


def _mor_delete(t: TokenTable, mode: str = "mor"):
    return delete_where(t, "n_tok < 32", mode=mode, mor_max_fraction=1.0, verify=False)


@pytest.mark.parametrize("mode", ["mor", "mor-pos"])
def test_rewrite_over_concurrent_mor_delete_must_replan(
    spark, tmp_path, tokens_df, mode
):
    """A rewrite written from ``base`` never saw a merge-on-read delete
    that landed after it: rebasing would drop the delete's target files and
    purge the delete, bringing its rows back. The commit must refuse."""
    from circus_train_spark.meta.catalog import CommitConflictError

    t = TokenTable.create(spark, str(tmp_path / "morrw"))
    t.append(tokens_df.limit(400), num_files=8)
    base = t.current_snapshot().snapshot_id
    paths = set(t.file_paths())
    rewrite = t.write_data_files(t.scan(base), "rewrite", num_files=8)
    res = _mor_delete(t, mode)
    assert res.delete_files_written == 1 and res.files_dropped == 0
    n_after = t.scan().count()
    assert n_after < 400

    with pytest.raises(CommitConflictError, match="re-plan required"):
        t.commit(
            operation="rewrite", added=rewrite, removed_paths=paths,
            expected_parent_id=base,
        )
    assert t.current_snapshot().snapshot_id == res.snapshot_id
    assert t.delete_manifests()
    assert t.scan().count() == n_after
    assert t.scan().filter("n_tok < 32").count() == 0


@pytest.mark.parametrize("mode", ["mor", "mor-pos"])
def test_mor_delete_over_concurrent_compaction_must_replan(
    spark, tmp_path, tokens_df, mode
):
    """A merge-on-read delete removes no file, but its delete entry targets
    the files it deletes from. If a compaction rewrote them since planning,
    the entry would land on dead files and the deleted rows would stay
    visible. The rebase must refuse."""
    from circus_train_spark.meta.catalog import CommitConflictError
    from circus_train_spark.operators.compact import compact

    t = TokenTable.create(spark, str(tmp_path / "mordead"))
    t.append(tokens_df.limit(400), num_files=8)
    real_commit = t.commit

    def race(**kw):
        t.commit = real_commit
        compact(t, target_file_bytes=512 * 1024 * 1024, verify=False)
        return real_commit(**kw)

    t.commit = race
    with pytest.raises(CommitConflictError, match="re-plan required"):
        _mor_delete(t, mode)
    assert t.current_snapshot().operation == "compact"
    assert not t.delete_manifests()
    assert t.scan().count() == 400


def test_compact_racing_mor_delete_fails_with_failed_row(spark, tmp_path, tokens_df):
    """The same race through compaction: the delete lands between the
    group rewrites and the commit, so the compaction raises and its run
    leaves one ``failed`` lineage row."""
    from circus_train_spark.meta.catalog import CommitConflictError
    from circus_train_spark.operators.compact import compact

    t = TokenTable.create(spark, str(tmp_path / "morcmp"))
    t.append(tokens_df.limit(400), num_files=8)
    real_commit = t.commit

    def race(**kw):
        t.commit = real_commit
        _mor_delete(t)
        return real_commit(**kw)

    t.commit = race
    with pytest.raises(CommitConflictError, match="re-plan required"):
        compact(t, target_file_bytes=512 * 1024 * 1024, verify=False, run_id="raced")
    assert t.current_snapshot().operation == "delete"
    assert t.scan().filter("n_tok < 32").count() == 0
    rows = [r for r in t.lineage.records("compact") if r.run_id == "raced"]
    assert [r.status for r in rows] == ["failed"]
    assert "CommitConflictError" in rows[0].error
    # the re-run may not resume from a group the delete targets: its staged
    # output predates the delete
    d_before = t.table_digest()
    compact(t, target_file_bytes=512 * 1024 * 1024, verify=False)
    assert not t.delete_manifests()
    assert t.table_digest() == d_before


# ------------------------------------------------- positional delete files


def test_pos_delete_writes_zero_data_files(table, tokens_df):
    """mode='mor-pos': the delete file records (file_path, row_pos) of the
    matched rows; zero data files rewritten or dropped."""
    victim = tokens_df.select("doc_id").orderBy("doc_id").first()["doc_id"]
    files_before = {e["file_path"] for e in table.manifest_entries()}
    res = delete_where(table, f"doc_id = '{victim}'", mode="mor-pos")
    assert res.rows_deleted == 1
    assert res.files_rewritten == 0 and res.files_dropped == 0
    assert res.delete_files_written == 1
    assert {e["file_path"] for e in table.manifest_entries()} == files_before
    (entry,) = table.delete_entries()
    assert entry["kind"] == "pos"
    assert entry["n_keys"] == 1
    assert table.scan().filter(F.col("doc_id") == victim).count() == 0
    assert table.current_snapshot().summary["mode"] == "mor-pos"


def test_pos_delete_scan_equals_cow_delete(spark, tmp_path, tokens_df):
    pred = "n_tok % 13 = 5"
    t_cow = TokenTable.create(spark, str(tmp_path / "cow"))
    t_cow.append(tokens_df, num_files=8)
    t_pos = TokenTable.create(spark, str(tmp_path / "pos"))
    t_pos.append(tokens_df, num_files=8)
    delete_where(t_cow, pred, mode="cow")
    res = delete_where(t_pos, pred, mode="mor-pos", mor_max_fraction=1.0)
    assert res.files_rewritten == 0 and res.delete_files_written == 1
    assert table_digest(t_pos.scan()) == table_digest(t_cow.scan())
    assert t_pos.table_digest(fast=True) == t_cow.table_digest(fast=True)


def test_pos_delete_exact_when_key_recurs(spark, tmp_path, tokens_df):
    """Positional deletes are exact even when the same doc_id legitimately
    recurs in the table: only the physically-matched row is suppressed,
    not every row with that key."""
    t = TokenTable.create(spark, str(tmp_path / "dup"))
    dup = tokens_df.limit(50)
    t.append(tokens_df.limit(200), num_files=2)
    t.append(dup.withColumn("source", F.lit("dupe")), num_files=1)  # same keys
    n_total = t.scan().count()
    res = delete_where(
        t, "source = 'dupe' AND n_tok % 2 = 0", mode="mor-pos", mor_max_fraction=1.0
    )
    assert res.delete_files_written == 1
    assert t.scan().count() == n_total - res.rows_deleted
    # the original copies of the deleted keys must all survive
    victims = [
        r["doc_id"]
        for r in dup.filter("n_tok % 2 = 0").select("doc_id").collect()
    ]
    survivors = t.scan().filter(F.col("doc_id").isin(victims))
    assert survivors.count() == len(victims)
    assert survivors.filter("source = 'dupe'").count() == 0


def test_auto_mode_prefers_positional(table):
    res = delete_where(table, "n_tok = 77", mode="auto")
    if res.rows_deleted and res.delete_files_written:
        (entry,) = table.delete_entries()
        assert entry["kind"] == "pos"
        assert table.current_snapshot().summary["mode"] == "mor-pos"


def test_pos_delete_stacks_and_compacts(spark, tmp_path, tokens_df):
    """Two stacked positional deletes on the same files apply cumulatively;
    compaction purges both and preserves the logical content."""
    from circus_train_spark.operators.compact import compact

    t = TokenTable.create(spark, str(tmp_path / "stack"))
    t.append(tokens_df, num_files=4)
    delete_where(t, "n_tok % 29 = 3", mode="mor-pos", mor_max_fraction=1.0)
    delete_where(t, "n_tok % 29 = 7", mode="mor-pos", mor_max_fraction=1.0)
    assert len(t.delete_entries()) == 2
    expected = table_digest(
        tokens_df.filter("NOT (n_tok % 29 = 3 OR n_tok % 29 = 7)")
    )
    assert table_digest(t.scan()) == expected
    compact(t, target_file_bytes=512 * 1024 * 1024)
    assert t.delete_entries() == []
    assert table_digest(t.scan()) == expected


def test_mixed_eq_and_pos_deletes_on_same_files(spark, tmp_path, tokens_df):
    """Equality and positional delete files pending against the SAME data
    files compose correctly (per-kind scoped anti-joins)."""
    t = TokenTable.create(spark, str(tmp_path / "mixed"))
    t.append(tokens_df, num_files=4)
    delete_where(t, "n_tok % 23 = 1", mode="mor", mor_max_fraction=1.0)
    delete_where(t, "n_tok % 23 = 2", mode="mor-pos", mor_max_fraction=1.0)
    kinds = sorted(e["kind"] for e in t.delete_entries())
    assert kinds == ["eq", "pos"]
    expected = table_digest(
        tokens_df.filter("NOT (n_tok % 23 = 1 OR n_tok % 23 = 2)")
    )
    assert table_digest(t.scan()) == expected
    assert t.table_digest(fast=True) == table_digest(t.scan())


# --------------------------------------------------- explicit-MOR guardrail


def test_explicit_mor_broad_predicate_falls_back_to_cow(table):
    """A broad predicate with explicit mode='mor' must NOT funnel a huge
    key set through delete files: the default fraction cap falls back to
    copy-on-write (requested mode recorded in the commit summary)."""
    res = delete_where(table, "n_tok > 16", mode="mor")  # matches most rows
    assert res.rows_deleted > 0
    assert res.delete_files_written == 0  # fell back: no delete files
    summary = table.current_snapshot().summary
    assert summary["mode"] == "cow"
    assert summary["requested_mode"] == "mor"
    assert table.scan().filter("n_tok > 16").count() == 0


def test_explicit_mor_update_broad_predicate_falls_back(table):
    res = update_where(
        table, "n_tok > 16", {"source": "concat(source, '_u')"}, mode="mor"
    )
    assert res.rows_updated > 0
    assert res.delete_files_written == 0
    assert table.current_snapshot().summary["requested_mode"] == "mor"
    assert table.scan().filter(
        "n_tok > 16 AND NOT source LIKE '%_u'"
    ).count() == 0


def test_classify_read_pushes_predicate_into_parquet_scan(table):
    """The DELETE/UPDATE classify read (``read_files`` tagged with the
    source file) keeps the predicate pushable: every data-file scan in the
    plan lists it in ``PushedFilters``, on clean and MOR-targeted groups
    alike, and the per-file counts are unchanged by the pending delete."""
    import re

    def classify_plan():
        df = table.read_files(table.file_paths(), file_col="_file").filter(
            F.expr("n_tok < 20")
        )
        scans = [
            line
            for line in df._jdf.queryExecution().executedPlan().toString().splitlines()
            if "FileScan parquet" in line and re.search(r"\bn_tok#", line)
        ]
        return df, scans

    df, scans = classify_plan()
    assert scans
    for line in scans:
        assert "PushedFilters: [IsNotNull(n_tok), LessThan(n_tok,20)]" in line
    counts = {r["_file"]: r["count"] for r in df.groupBy("_file").count().collect()}
    assert set(counts) <= set(table.file_paths())  # plain paths, no URI scheme

    delete_where(table, "n_tok >= 20 AND n_tok % 97 = 0", mode="mor")
    assert table.delete_manifests()
    df, scans = classify_plan()
    assert len(scans) >= 2  # targeted and clean groups
    for line in scans:
        assert "PushedFilters: [IsNotNull(n_tok), LessThan(n_tok,20)]" in line
    assert {r["_file"]: r["count"] for r in df.groupBy("_file").count().collect()} == counts
