"""Table diff + replication (the reference's core pipeline, Spark-first)."""

import pytest
from pyspark.sql import functions as F

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.diff import (
    STATUS_CHANGED,
    STATUS_DELETED,
    STATUS_NEW,
    STATUS_UNCHANGED,
    changed_partitions,
    table_diff,
)
from circus_train_spark.operators.replicate import replicate


@pytest.fixture()
def pair(spark, tmp_path, tokens_df):
    """source table with all rows; replica missing one partition, one
    partition stale (half the rows), rest replicated verbatim."""
    src = TokenTable.create(spark, str(tmp_path / "src"))
    src.append(tokens_df, num_files=4)
    rep = TokenTable.create(spark, str(tmp_path / "rep"))
    rep_df = tokens_df.filter(F.col("source") != "wiki").filter(
        (F.col("source") != "books") | (F.xxhash64("doc_id") % 2 == 0)
    )
    rep.append(rep_df, num_files=4)
    return src, rep


def test_diff_statuses(pair):
    src, rep = pair
    d = {r["partition"]: r["status"] for r in table_diff(src, rep).collect()}
    assert d["wiki"] == STATUS_NEW
    assert d["books"] == STATUS_CHANGED
    assert d["web"] == STATUS_UNCHANGED
    assert changed_partitions(table_diff(src, rep)) == ["books", "wiki"]


def test_diff_detects_deleted(spark, tmp_path, tokens_df, pair):
    src, rep = pair
    extra = tokens_df.limit(50).withColumn("source", F.lit("ghost"))
    rep.append(extra, num_files=1)
    d = {r["partition"]: r["status"] for r in table_diff(src, rep).collect()}
    assert d["ghost"] == STATUS_DELETED


def test_incremental_replication_converges(pair):
    src, rep = pair
    res = replicate(src, rep, mode="incremental")
    assert sorted(res.partitions_replicated) == ["books", "wiki"]
    assert src.table_digest() == rep.table_digest()
    # second run: nothing to do
    res2 = replicate(src, rep, mode="incremental")
    assert res2.partitions_replicated == []
    assert res2.snapshot_id is None


def test_incremental_propagates_deletes(spark, tokens_df, pair):
    src, rep = pair
    rep.append(tokens_df.limit(50).withColumn("source", F.lit("ghost")), num_files=1)
    res = replicate(src, rep, mode="incremental", propagate_deletes=True)
    assert res.partitions_dropped == ["ghost"]
    assert src.table_digest() == rep.table_digest()


def test_full_replication_with_filter_and_limit(spark, tmp_path, tokens_df):
    src = TokenTable.create(spark, str(tmp_path / "s2"))
    src.append(tokens_df, num_files=4)
    rep = TokenTable.create(spark, str(tmp_path / "r2"))
    res = replicate(
        src,
        rep,
        mode="full",
        partition_filter="partition IN ('web', 'wiki', 'books')",
        partition_limit=2,
    )
    # newest-first ordering of ('web','wiki','books') → wiki, web
    assert sorted(res.partitions_replicated) == ["web", "wiki"]
    assert set(
        r["partition"]
        for r in rep.manifest_df().select("partition").distinct().collect()
    ) == {"web", "wiki"}
    src_sub = src.scan(partitions=["web", "wiki"])
    from circus_train_spark.functions.digest import table_digest

    assert table_digest(src_sub) == rep.table_digest()


def test_metadata_replication_copies_no_data(pair):
    src, rep = pair
    files_before = set(rep._walk_parquet(rep.data_dir))
    res = replicate(src, rep, mode="metadata")
    # no new data files materialized under the replica root
    assert set(rep._walk_parquet(rep.data_dir)) == files_before
    assert res.files_copied > 0
    # replica now SCANS the source's files for the rebound partitions
    assert src.table_digest() == rep.table_digest()


def test_replication_resume_skips_done_partitions(pair):
    src, rep = pair
    first = replicate(src, rep, mode="incremental", run_id="run-x")
    assert first.partitions_replicated == ["books", "wiki"]
    # simulate a crashed rerun of the same logical job: lineage says done
    res = replicate(src, rep, mode="full", partition_filter="partition = 'books'")
    assert res.partitions_replicated == []
    assert res.partitions_skipped == ["books"]
    assert src.table_digest() == rep.table_digest()


def test_resume_adopts_crashed_write_alongside_new_partition(pair):
    """Crash between data write and commit, with BOTH a recovered partition
    and a new one in the healing run: the adopted entries must survive into
    the commit (regression: `added` reassignment dropped them, losing the
    recovered partition's data while still removing its old files)."""
    src, rep = pair

    real_commit = rep.commit
    rep.commit = lambda **kw: (_ for _ in ()).throw(RuntimeError("injected crash"))
    try:
        replicate(src, rep, mode="full", partition_filter="partition = 'books'")
    except RuntimeError:
        pass
    finally:
        rep.commit = real_commit

    # healing run covers the crashed partition (adopted from lineage) AND a
    # genuinely new one ('wiki' is absent at the replica)
    res = replicate(src, rep, mode="incremental")
    assert "books" in res.partitions_skipped
    assert "wiki" in res.partitions_replicated
    assert src.table_digest() == rep.table_digest()


def test_adopted_partition_is_recorded_done(pair):
    """The healing run that commits a crashed run's staged partition
    records it as ``done``."""
    src, rep = pair
    real_commit = rep.commit
    rep.commit = lambda **kw: (_ for _ in ()).throw(RuntimeError("injected crash"))
    try:
        with pytest.raises(RuntimeError):
            replicate(src, rep, mode="full", partition_filter="partition = 'books'")
    finally:
        rep.commit = real_commit
    res = replicate(src, rep, mode="incremental", run_id="healing")
    assert "books" in res.partitions_skipped
    healed = [r for r in rep.lineage.records("replicate") if r.run_id == "healing"]
    assert ("books", "done") in {(r.partition, r.status) for r in healed}


# ---------------------------------------------------------- schema artifacts


def test_artifact_travels_with_replica(spark, tmp_path, tokens_df, pair):
    """Reference behavior: the Avro schema file is copied alongside the
    replica and the table property rebound to the new location
    (AvroSerDeTableTransformation.java:45-61, SchemaCopier.java:67-104)."""
    import os

    src, rep = pair
    schema_file = tmp_path / "tokenizer.json"
    schema_file.write_text('{"vocab_size": 50257, "model": "bpe"}')
    snap = src.attach_artifact(str(schema_file), name="tokenizer.json")
    assert snap.operation == "attach_artifact"
    # the pointer is root-relative and the file lives inside the table tree
    src_path = src.artifacts()["tokenizer.json"]
    assert src_path.startswith(src.root) and os.path.exists(src_path)
    # a later unrelated commit carries the pointer forward
    src.append(tokens_df.limit(10), num_files=1)
    assert "tokenizer.json" in src.artifacts()

    res = replicate(src, rep, mode="incremental")
    assert res.snapshot_id is not None
    rep_path = rep.artifacts()["tokenizer.json"]
    assert rep_path.startswith(rep.root) and os.path.exists(rep_path)
    with open(rep_path) as f:
        assert f.read() == schema_file.read_text()
    # a second replication with nothing to copy does not commit again
    head = rep.current_snapshot().snapshot_id
    res2 = replicate(src, rep, mode="incremental")
    assert res2.snapshot_id is None
    assert rep.current_snapshot().snapshot_id == head


def test_artifact_reattach_and_orphan_reclaim(spark, tmp_path, tokens_df):
    import os

    from circus_train_spark.operators.expire import expire_snapshots
    from circus_train_spark.operators.housekeeping import remove_orphan_files

    t = TokenTable.create(spark, str(tmp_path / "tbl"))
    t.append(tokens_df.limit(100), num_files=1)
    a1 = tmp_path / "v1.txt"
    a1.write_text("v1")
    a2 = tmp_path / "v2.txt"
    a2.write_text("v2")
    t.attach_artifact(str(a1), name="cfg")
    old_path = t.artifacts()["cfg"]
    t.attach_artifact(str(a2), name="cfg")  # replaces the pointer
    new_path = t.artifacts()["cfg"]
    assert old_path != new_path
    with open(new_path) as f:
        assert f.read() == "v2"
    # the old file is still referenced by the older snapshot -> kept
    future = 10**15
    remove_orphan_files(t, now_ms=future)
    assert os.path.exists(old_path)
    # expire the old snapshots -> the old artifact becomes orphaned
    expire_snapshots(t, keep_last=1)
    remove_orphan_files(t, now_ms=future)
    assert not os.path.exists(old_path)
    assert os.path.exists(new_path)


def test_replica_commit_carries_partition_stats(spark, tmp_path, tokens_df):
    """The replica's commit summary carries explicit partition-granularity
    stats equal to the source-side aggregation (the Replica.java:250-267
    ColumnStatistics-copy analogue, folded from per-file manifest stats)."""
    src = TokenTable.create(spark, str(tmp_path / "src"))
    src.append(tokens_df, num_files=4)
    rep = TokenTable.create(spark, str(tmp_path / "rep"))
    replicate(src, rep, mode="full")
    carried = rep.current_snapshot().summary["partition_stats"]
    want = src.table_stats()["partitions"]
    assert set(carried) == set(want)
    for p, st in want.items():
        got = carried[p]
        assert got["rows"] == st["rows"]
        assert got["min_doc_id"] == st["min_doc_id"]
        assert got["max_doc_id"] == st["max_doc_id"]
        assert got["min_n_tok"] == st["min_n_tok"]
        assert got["max_n_tok"] == st["max_n_tok"]
