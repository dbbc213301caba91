"""Manifest rewrite — metadata-only compaction of the manifest list.

Every data commit adds a manifest file; after many appends/merges the
snapshot's manifest list is long and scan planning reads many small parquet
files. This op coalesces them into ``target_manifests`` larger ones and
commits a snapshot whose *entry set is proven identical* — zero data I/O,
the metadata twin of file compaction.

Reference analogue: the S3→S3 copier moves table data by server-side
``CopyObjectRequest`` without bytes flowing through the worker
(``circus-train-s3-s3-copier/.../S3S3Copier.java:138-199``) — a pure
metadata/placement rewrite, which is exactly what this op does to manifests.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from circus_train_spark.meta.catalog import TokenTable, carry_state

OP = "rewrite_manifests"


@dataclass
class ManifestRewriteResult:
    snapshot_id: int | None
    manifests_before: int
    manifests_after: int
    entries: int
    duration_s: float


def rewrite_manifests(
    table: TokenTable, target_manifests: int = 1, min_manifests: int = 2
) -> ManifestRewriteResult:
    t0 = time.monotonic()
    base = table.current_snapshot()
    if len(base.manifests) < max(min_manifests, target_manifests + 1):
        return ManifestRewriteResult(
            None, len(base.manifests), len(base.manifests), 0, time.monotonic() - t0
        )
    tables = [pq.read_table(m) for m in base.manifests]
    combined = pa.concat_tables(tables)
    n = len(combined)
    per = -(-n // target_manifests)  # target_manifests roughly equal slices
    with table.lineage.run(OP) as run:
        new_paths = []
        for i in range(0, n, per):
            name = f"manifest-{uuid.uuid4().hex}.parquet"
            path = os.path.join(table.manifest_dir, name)
            pq.write_table(combined.slice(i, per), path)
            new_paths.append(path)
        # this op swaps the manifest list wholesale, so it commits through the
        # log directly — but like every other commit it carries the snapshot
        # state forward (schema, artifacts, views, pending MOR deletes) and
        # notifies commit listeners.
        summary = carry_state(
            base,
            {
                "manifests_before": len(base.manifests),
                "manifests_after": len(new_paths),
                "entries": n,
            },
        )
        snap = table.log.commit(
            expected_parent_id=base.snapshot_id,
            event_id=run.run_id,
            operation=OP,
            manifests=new_paths,
            summary=summary,
        )
        for fn in table.commit_listeners:
            fn(snap)
        run.record(files_in=list(base.manifests), files_out=new_paths, rows=n)
    # validation: identical entry multiset (cheap driver-side check)
    before = sorted(
        (r["file_path"], r["n_rows"], r["xor_digest"]) for r in combined.to_pylist()
    )
    after_entries = table.manifest_entries(snap.snapshot_id)
    after = sorted((r["file_path"], r["n_rows"], r["xor_digest"]) for r in after_entries)
    if before != after:
        raise AssertionError("manifest rewrite changed the entry set")
    return ManifestRewriteResult(
        snapshot_id=snap.snapshot_id,
        manifests_before=len(base.manifests),
        manifests_after=len(new_paths),
        entries=n,
        duration_s=time.monotonic() - t0,
    )
