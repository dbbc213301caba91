"""Compaction: fewer files, identical content, resumable, lineage recorded."""

import pytest

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.compact import OP, compact


@pytest.fixture()
def small_file_table(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=24)  # deliberately many small files
    return t


def test_compact_reduces_files_and_preserves_content(small_file_table):
    t = small_file_table
    before_files = len(t.file_paths())
    digest_before = t.table_digest()
    res = compact(t, target_file_bytes=64 * 1024 * 1024, verify=True)
    assert res.snapshot_id is not None
    after_files = len(t.file_paths())
    assert after_files < before_files
    assert t.table_digest() == digest_before
    # compacted partitions now have exactly one file each (all small here)
    assert res.files_out <= res.files_in
    assert t.current_snapshot().operation == "compact"


def test_compact_lineage_and_metrics(small_file_table):
    t = small_file_table
    res = compact(t, target_file_bytes=64 * 1024 * 1024)
    recs = t.lineage.records(OP)
    assert len(recs) == res.groups_rewritten
    for r in recs:
        assert r.status == "done"
        assert r.rows > 0 and r.bytes_in > 0 and r.bytes_out > 0
        assert len(r.files_in) >= 2 and len(r.files_out) >= 1
        assert r.partition is not None
    assert sum(r.rows for r in recs) == res.rows


def test_compact_noop_when_no_candidates(small_file_table):
    t = small_file_table
    compact(t, target_file_bytes=64 * 1024 * 1024)
    res2 = compact(t, target_file_bytes=1024)  # everything bigger than target/1k
    assert res2.snapshot_id is None and res2.groups_planned == 0


def test_compact_resume_skips_completed_groups(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df, num_files=24)
    digest_before = t.table_digest()

    # simulate a crash: run the group rewrites but die before the commit by
    # doing a first pass with max_groups and manually replaying
    from circus_train_spark.operators.binpack import plan_compaction_groups
    from circus_train_spark.operators.compact import _rewrite_group
    from circus_train_spark.meta.lineage import LineageRecord

    entries = t.manifest_entries()
    groups = plan_compaction_groups(entries, 64 * 1024 * 1024)
    assert len(groups) >= 2
    # complete the first group only, as a crashed run would have
    entry_by_path = {e["file_path"]: e for e in entries}
    g0, out_entries, dur = _rewrite_group(t, groups[0], entry_by_path, "crashed-run")
    t.lineage.append(
        LineageRecord(
            run_id="crashed-run",
            operation=OP,
            group_id=g0.group_id,
            partition=g0.partition,
            files_in=g0.files,
            files_out=[e["file_path"] for e in out_entries],
            rows=sum(e["n_rows"] for e in out_entries),
            bytes_in=g0.total_bytes,
            bytes_out=sum(e["file_size"] for e in out_entries),
        )
    )
    # resumed run: must skip the completed group, rewrite the rest, commit once
    res = compact(t, target_file_bytes=64 * 1024 * 1024, verify=True)
    assert res.groups_skipped == 1
    assert res.groups_rewritten == len(groups) - 1
    assert t.table_digest() == digest_before
    # the skipped group's output files are live in the new snapshot
    live = set(t.file_paths())
    assert set(e["file_path"] for e in out_entries) <= live


def test_rerun_records_adopted_groups_as_done(small_file_table):
    """A run whose commit failed leaves its groups staged; the run that
    adopts and commits them records each one as ``done``."""
    t = small_file_table
    real_commit = t.commit
    t.commit = lambda **kw: (_ for _ in ()).throw(RuntimeError("injected crash"))
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact(t, target_file_bytes=64 * 1024 * 1024, run_id="crashed")
    finally:
        t.commit = real_commit
    staged = set(t.lineage.completed_groups(OP))
    assert staged

    res = compact(t, target_file_bytes=64 * 1024 * 1024, run_id="rerun")
    assert res.groups_skipped == len(staged) and res.groups_rewritten == 0
    by_run = {}
    for r in t.lineage.records(OP):
        by_run.setdefault(r.run_id, []).append(r)
    assert [r.status for r in by_run["crashed"]] == ["failed"]
    assert {r.group_id for r in by_run["rerun"]} == staged
    assert {r.status for r in by_run["rerun"]} == {"done"}


def test_rerun_after_failed_check_rewrites_bad_staged_groups(
    spark, tmp_path, tokens_df, monkeypatch
):
    """A run whose check failed leaves its group outputs staged; the re-run
    must rewrite them, not adopt them, and land with the pre-state."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from circus_train_spark.meta import writers

    class LossyWriter(writers.ParquetWriter):
        def write(self, req: writers.WriteRequest) -> None:
            victim = req.df.agg(F.min("doc_id")).first()[0]
            super().write(replace(req, df=req.df.filter(F.col("doc_id") != victim)))

    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(400), num_files=8)
    digest = t.table_digest()
    with monkeypatch.context() as m:
        m.setattr(writers, "_REGISTRY", [LossyWriter(), *writers._REGISTRY])
        with pytest.raises(AssertionError, match="scan-equality violated"):
            compact(t, target_file_bytes=64 * 1024 * 1024, verify=True)
    assert t.lineage.completed_groups(OP)

    res = compact(t, target_file_bytes=64 * 1024 * 1024, verify=True)
    assert res.groups_skipped == 0 and res.groups_rewritten == res.groups_planned
    assert t.table_digest() == digest
