"""The snapshot-log contract, run against both catalog stores without Spark:
every rule lives in ``SnapshotLog``, so the filesystem and the in-memory
store must behave identically."""

from __future__ import annotations

import sys
import threading

import pytest

from circus_train_spark.meta.adapter import FileCatalog, InMemoryCatalog
from circus_train_spark.meta.snapshot import CommitConflictError


@pytest.fixture(params=["file", "memory"])
def log(request, tmp_path):
    return FileCatalog(str(tmp_path)) if request.param == "file" else InMemoryCatalog()


def _commit(log, parent, **kw):
    return log.commit(
        expected_parent_id=parent, event_id=kw.pop("event_id", "e"),
        operation="append", manifests=[], summary={}, **kw,
    )


def test_concurrent_committers_form_one_linear_chain(log):
    _commit(log, None)
    threads, per_thread = 4, 10

    def writer(w: int) -> None:
        for i in range(per_thread):
            while True:
                try:
                    _commit(log, log.current_id(), event_id=f"w{w}-{i}")
                    break
                except CommitConflictError:
                    pass

    pool = [threading.Thread(target=writer, args=(w,)) for w in range(threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as often as possible
    try:
        for t in pool:
            t.start()
        for t in pool:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in pool)
    chain = log.history()
    assert len(chain) == 1 + threads * per_thread
    # linear: each snapshot's parent is its predecessor, and every stored
    # descriptor is on the chain (losers deleted their own)
    assert [s.parent_id for s in chain[1:]] == [s.snapshot_id for s in chain[:-1]]
    assert log.all_snapshot_ids() == sorted(s.snapshot_id for s in chain)
    events = {s.event_id for s in chain}
    assert {f"w{w}-{i}" for w in range(threads) for i in range(per_thread)} <= events


def test_main_is_reserved_and_ref_kinds_are_checked(log):
    _commit(log, None)
    with pytest.raises(ValueError):
        log.set_ref("branches", "main", 1)
    with pytest.raises(ValueError):
        log.set_ref("heads", "x", 1)
    with pytest.raises(ValueError):
        log.drop_ref("heads", "x")
    assert log.refs() == {"branches": {}, "tags": {}}


def test_tags_are_immutable(log):
    _commit(log, None)
    _commit(log, 1)
    log.set_ref("tags", "v1", 1)
    log.set_ref("tags", "v1", 1)  # re-asserting the same target is fine
    with pytest.raises(ValueError):
        log.set_ref("tags", "v1", 2)
    log.drop_ref("tags", "v1")
    log.set_ref("tags", "v1", 2)
    assert log.refs()["tags"]["v1"]["snapshot_id"] == 2


def test_stale_fast_forward_raises(log):
    _commit(log, None)
    staged = _commit(log, 1, stage_only=True)
    assert log.current_id() == 1
    _commit(log, 1)
    with pytest.raises(CommitConflictError):
        log.fast_forward(staged.snapshot_id, staged.parent_id)
    assert log.current_id() == 3
    log.fast_forward(_commit(log, 3, stage_only=True).snapshot_id, 3)
    assert log.current_id() == 4


def test_put_of_taken_id_keeps_the_winner(log):
    _commit(log, None)
    winner = _commit(log, 1, event_id="winner")
    with pytest.raises(CommitConflictError):
        _commit(log, 2, snapshot_id=winner.snapshot_id, event_id="loser")
    assert log.get(winner.snapshot_id).event_id == "winner"
    assert log.current_id() == winner.snapshot_id


def test_raising_check_leaves_no_descriptor(log):
    _commit(log, None)

    def bad(snap):
        assert log.get(snap.snapshot_id) == snap  # stored before the check
        raise AssertionError("audit failed")

    with pytest.raises(AssertionError, match="audit failed"):
        _commit(log, 1, check=bad)
    assert log.all_snapshot_ids() == [1]
    assert log.current_id() == 1


def test_branch_commits_swap_only_their_branch(log):
    _commit(log, None)
    log.set_ref("branches", "exp", 1)
    snap = _commit(log, 1, branch="exp")
    assert log.branch_head("exp") == snap.snapshot_id
    assert log.current_id() == 1
    with pytest.raises(CommitConflictError):
        _commit(log, 1, branch="exp")
    assert log.all_snapshot_ids() == [1, snap.snapshot_id]
