"""``verify=True`` runs before the head moves: each checked operator stages
its snapshot, checks it against the snapshot it lands on, and only then
fast-forwards the head. A failed check leaves the table at exactly its
pre-state, one ``failed`` lineage row, and staged files that orphan
removal reclaims."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from circus_train_spark.meta import writers
from circus_train_spark.meta.adapter import InMemoryCatalog
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.cluster import cluster
from circus_train_spark.operators.compact import compact
from circus_train_spark.operators.delete import delete_where
from circus_train_spark.operators.housekeeping import remove_orphan_files
from circus_train_spark.operators.merge import merge_into
from circus_train_spark.sources.generator import generate_changes

TARGET = 512 * 1024 * 1024


class DropOneRow(writers.ParquetWriter):
    """A faulty writer: every write loses the row with the smallest doc_id."""

    def write(self, req: writers.WriteRequest) -> None:
        victim = req.df.agg(F.min("doc_id")).first()[0]
        super().write(replace(req, df=req.df.filter(F.col("doc_id") != victim)))


OPS = {
    "compact": lambda t, s: compact(t, target_file_bytes=TARGET, verify=True),
    "cluster": lambda t, s: cluster(t, target_file_bytes=TARGET, verify=True),
    "merge": lambda t, s: merge_into(t, generate_changes(s, 400, seed=42), verify=True),
    "delete": lambda t, s: delete_where(t, "n_tok % 5 = 0", verify=True),
}


def _files_on_disk(t: TokenTable) -> set[str]:
    manifests = {
        os.path.join(base, n)
        for base, _dirs, names in os.walk(t.manifest_dir)
        for n in names
        if n.endswith(".parquet")
    }
    return set(t._walk_parquet(t.data_dir)) | manifests


@pytest.mark.parametrize(
    "op, in_memory",
    [("compact", False), ("cluster", False), ("merge", False), ("delete", False),
     ("compact", True)],
)
def test_failed_check_leaves_pre_state(
    spark, tmp_path, tokens_df, monkeypatch, op, in_memory
):
    catalog = InMemoryCatalog() if in_memory else None
    t = TokenTable.create(spark, str(tmp_path / "tbl"), catalog=catalog)
    t.append(tokens_df.limit(400), num_files=8)
    monkeypatch.setattr(writers, "_REGISTRY", [DropOneRow(), *writers._REGISTRY])
    head, ids, digest = (
        t.current_snapshot().snapshot_id, t.log.all_snapshot_ids(), t.table_digest()
    )
    files = _files_on_disk(t)
    n_rows = len(t.lineage.records(op))

    with pytest.raises(AssertionError):
        OPS[op](t, spark)

    assert t.current_snapshot().snapshot_id == head
    assert t.log.all_snapshot_ids() == ids
    assert t.table_digest() == digest
    new = t.lineage.records(op)[n_rows:]
    assert [r.status for r in new] == ["failed"]
    assert new[0].error.startswith("AssertionError")
    # the staged data files and manifests are orphans, and are reclaimed
    assert _files_on_disk(t) > files
    remove_orphan_files(t, grace_period_ms=0)
    assert _files_on_disk(t) == files
    assert t.table_digest() == digest
