"""The lineage protocol shared by every operator: rows are written only
through ``LineageLog.run`` — ``staged`` resume checkpoints, ``done`` only
after the commit, one ``failed`` row when the run raises."""

from __future__ import annotations

import pathlib

import pytest

from circus_train_spark.meta.catalog import CommitConflictError, TokenTable
from circus_train_spark.meta.lineage import LineageLog
from circus_train_spark.operators.delete import delete_where
from circus_train_spark.operators.manifest_rewrite import rewrite_manifests
from circus_train_spark.operators.rollback import rollback

PKG = pathlib.Path(__file__).resolve().parents[1] / "circus_train_spark"


def test_lineage_rows_are_written_only_through_lineage_run():
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in sorted(PKG.rglob("*.py"))
        if path.relative_to(PKG).as_posix() != "meta/lineage.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "LineageRecord(" in line or "lineage.append(" in line
    ]
    assert not offenders, (
        "lineage rows are written by hand at " + ", ".join(offenders)
        + "; open `with table.lineage.run(op, run_id) as run:` before the "
        "first write and pass units to run.stage / run.record"
    )


def test_run_statuses(tmp_path):
    log = LineageLog(str(tmp_path))
    with log.run("op", "r1") as run:
        run.stage(group_id="g1")
        # a staged checkpoint resumes at once but is not an outcome yet
        assert set(log.completed_groups("op")) == {"g1"}
        assert log.records("op") == []
        run.record(group_id="g2", rows=3)
        assert log.records("op") == []
    assert [(r.group_id, r.status) for r in log.records("op")] == [
        ("g1", "done"),
        ("g2", "done"),
    ]
    with pytest.raises(RuntimeError, match="boom"):
        with log.run("op", "r2") as run:
            run.stage(group_id="g3")
            run.record(group_id="g4")
            raise RuntimeError("boom")
    failed = [r for r in log.records("op") if r.run_id == "r2"]
    assert [(r.status, r.error) for r in failed] == [("failed", "RuntimeError: boom")]
    assert set(log.completed_groups("op")) == {"g1", "g2", "g3"}


def test_delete_losing_commit_race_leaves_one_failed_row(spark, tmp_path, tokens_df):
    """A second delete that drops every file lands while the first is
    between its write and its commit: the first commit raises, and its run
    leaves one ``failed`` row carrying the conflict and no ``done`` row."""
    t = TokenTable.create(spark, str(tmp_path / "race"))
    t.append(tokens_df.limit(400), num_files=8)
    real_commit = t.commit

    def race(**kw):
        t.commit = real_commit
        delete_where(t, "n_tok >= 0", verify=False, run_id="winner")
        return real_commit(**kw)

    t.commit = race
    with pytest.raises(CommitConflictError):
        delete_where(t, "n_tok < 32", verify=False, run_id="loser")
    assert t.current_snapshot().summary["predicate"] == "n_tok >= 0"
    rows = [r for r in t.lineage.records("delete") if r.run_id == "loser"]
    assert [r.status for r in rows] == ["failed"]
    assert rows[0].error.startswith("CommitConflictError: ")
    assert "re-plan required" in rows[0].error


def test_rollback_and_manifest_rewrite_leave_one_done_row(spark, tmp_path, tokens_df):
    t = TokenTable.create(spark, str(tmp_path / "meta-ops"))
    t.append(tokens_df.limit(100), num_files=2)
    first = t.current_snapshot()
    t.append(tokens_df.limit(50), num_files=1)
    manifests = t.current_snapshot().manifests

    res = rewrite_manifests(t)
    (rec,) = t.lineage.records("rewrite_manifests")
    assert rec.status == "done"
    assert rec.run_id == t.snapshot(res.snapshot_id).event_id
    assert rec.files_in == manifests and len(rec.files_out) == 1
    assert rec.rows == res.entries

    snap = rollback(t, first.snapshot_id)
    (rec,) = t.lineage.records("rollback")
    assert (rec.status, rec.run_id) == ("done", snap.event_id)
    assert t.current_snapshot().manifests == first.manifests
