"""Table replication — the reference's raison d'être, Spark-first.

Circus Train replicates Hive tables between metastores with three mode
families (``core/ReplicationFactoryImpl.java:72-152``): FULL (copy data +
upsert metadata), METADATA_MIRROR (register source locations at the replica,
no data copy), and incremental diff-driven runs
(``DiffGeneratedPartitionPredicate``). This module re-expresses them for
token tables:

- ``mode="full"``      — rewrite the selected partitions' rows into the
  replica's own data files under a unique event-id folder (reference:
  unique destination per run, ``FullReplicationReplicaLocationManager
  .java:58-77``), then commit create/alter per partition.
- ``mode="incremental"`` — run the manifest-digest diff first and copy only
  *new*/*changed* partitions (reference: ``DiffGeneratedPartitionPredicate
  .java:65-93``); optionally drop *deleted* ones (destructive replica,
  ``DestructiveReplica.java:83-127``).
- ``mode="metadata"``   — bind the source's data files into the replica
  manifest without moving a byte (the S3→S3 server-side copy analogue,
  ``S3S3Copier.java:138-199``: data never flows through the engine).

Stored views travel with every mode: the source's views, their table
references rewritten through the table mappings, are merged over the
replica's own (a source view wins a name clash, a replica-local view
survives). A view dropped at the source is therefore not dropped at the
replica; drop it there with ``TokenTable.drop_view``.

Every run stages one lineage unit per replicated partition
(files-in/files-out/rows/bytes — the reference's per-partition counters,
``CopyMapper.java:142-145``) as soon as its data is written, commits once,
atomically, and only then marks the units ``done``. Reruns of a crashed or
failed run resume: partitions already staged or done for the same source
snapshot are not re-copied, and staged outputs that never reached a commit
are adopted into the new one and turn ``done`` with it.

Scale: the copy is one Spark job per run (`read files … write partitionBy`),
shuffle-free (repartition by partition value + doc_id hash only to control
file counts); the diff is manifest-only.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.operators.diff import (
    STATUS_CHANGED,
    STATUS_DELETED,
    STATUS_NEW,
    table_diff,
)

OP = "replicate"


@dataclass
class ReplicationResult:
    snapshot_id: int | None
    mode: str
    partitions_replicated: list[str]
    partitions_dropped: list[str]
    partitions_skipped: list[str]
    files_copied: int
    rows_copied: int
    bytes_copied: int
    duration_s: float


def replicate(
    source: TokenTable,
    replica: TokenTable,
    mode: str = "incremental",
    partition_filter: str | None = None,
    partition_limit: int | None = None,
    propagate_deletes: bool = False,
    target_file_bytes: int = 512 * 1024 * 1024,
    run_id: str | None = None,
    table_mappings: dict[str, str] | None = None,
) -> ReplicationResult:
    """Replicate selected partitions of ``source`` into ``replica``.

    ``partition_filter`` is a SQL boolean over ``partition`` (the HIVE-1609
    partition-predicate analogue, parsed by Catalyst instead of the
    metastore: ``core/HiveEndpoint.java:147-174``, grammar README.md:239-246)
    and ``partition_limit`` caps the newest-first partition list
    (``SpelParsedPartitionPredicate.java:49-52``).
    """
    if mode not in ("full", "incremental", "metadata"):
        raise ValueError(f"unknown replication mode: {mode}")
    t0 = time.monotonic()
    src_snap = source.current_snapshot()
    rep_snap = replica.current_snapshot()

    # ---- partition selection (predicate + limit over the manifest)
    selected = sorted(
        source.select_partitions(
            partition_filter, partition_limit, src_snap.snapshot_id
        )
    )

    dropped: list[str] = []
    if mode == "incremental":
        diff = table_diff(
            source, replica, src_snap.snapshot_id, rep_snap.snapshot_id
        ).filter(F.col("partition").isin(selected) | (F.col("status") == STATUS_DELETED))
        rows = diff.collect()
        todo = sorted(
            r["partition"]
            for r in rows
            if r["status"] in (STATUS_NEW, STATUS_CHANGED) and r["partition"] in selected
        )
        if propagate_deletes:
            dropped = sorted(r["partition"] for r in rows if r["status"] == STATUS_DELETED)
    else:
        todo = selected

    # ---- resume: partitions already copied for this source snapshot are not
    # re-copied; their previously written outputs are carried into the commit
    # (covers a crash after data write but before the atomic commit).
    done = replica.lineage.completed_groups(OP)
    key = lambda p: f"{src_snap.snapshot_id}:{p}"  # noqa: E731
    skipped = [p for p in todo if key(p) in done] if mode != "metadata" else []
    todo = [p for p in todo if p not in set(skipped)]

    src_entries = [
        e
        for e in source.manifest_entries(src_snap.snapshot_id)
        if e["partition"] in set(todo)
    ]
    rep_entries = replica.manifest_entries(rep_snap.snapshot_id)
    live = {e["file_path"] for e in rep_entries}
    # skipped partitions whose outputs already sit in the live snapshot were
    # fully committed — leave them untouched. Outputs on disk but NOT live
    # mean the prior run crashed between data write and commit: adopt them.
    adopt = [p for p in skipped if not all(f in live for f in done[key(p)].files_out)]
    removed = {
        e["file_path"]
        for e in rep_entries
        if e["partition"] in set(todo) | set(dropped) | set(adopt)
    }

    # schema artifacts travel with the replica: copy the files into the
    # replica tree and rebind the pointers in the SAME atomic commit (the
    # AvroSerDeTableTransformation + SchemaCopier behavior,
    # circus-train-avro/.../SchemaCopier.java:67-104) — metadata mode
    # included, exactly the URL-rewrite case.
    src_arts = source.snapshot(src_snap.snapshot_id).summary.get("artifacts", {})
    rep_arts = rep_snap.summary.get("artifacts", {})
    artifacts_to_bind = {n: p for n, p in src_arts.items() if rep_arts.get(n) != p}

    # stored view definitions travel too, with their table references
    # rewritten through the table mappings — the Hive-view replication
    # analogue (ViewTransformation.java:65-90); merged over the replica's
    # own views so a replica-local view survives re-replication.
    from circus_train_spark.operators.views import translate_views

    translated = translate_views(
        source, table_mappings, snapshot_id=src_snap.snapshot_id
    )
    rep_views = dict(rep_snap.summary.get("views", {}))
    views_to_bind = {
        n: t for n, t in translated.items() if rep_views.get(n) != t
    }

    # adopted (crash-recovered) entries MUST survive the branches below:
    # extend, never reassign — a reassignment would commit the adopted
    # partitions' old files as removed while dropping their replacements.
    added: list[dict] = []
    snap = None
    with replica.lineage.run(OP, run_id) as run:
        for p in adopt:
            added.extend(replica.collect_entries_for_files(done[key(p)].files_out))
            run.adopt(done[key(p)])
        if src_entries and mode == "metadata":
            # rebind source files into the replica manifest — no data I/O
            added += [dict(e) for e in src_entries]
        elif src_entries:
            in_files = [e["file_path"] for e in src_entries]
            bytes_in = sum(e["file_size"] for e in src_entries)
            n_out = max(1, -(-bytes_in // target_file_bytes))
            df = source.scan(files=in_files)
            # shuffle-free copy: source files are single-source, so coalesced
            # read splits stream rows source-contiguously into the writers
            added += replica.write_data_files(
                df, run.run_id, num_files=n_out, sub_dir="replicated", shuffle=False
            )
        by_part_in: dict[str, list[dict]] = {}
        for e in src_entries:
            by_part_in.setdefault(e["partition"], []).append(e)
        by_part_out: dict[str, list[dict]] = {}
        for e in added:
            by_part_out.setdefault(e["partition"], []).append(e)
        for p in todo:
            ins, outs = by_part_in.get(p, []), by_part_out.get(p, [])
            run.stage(
                group_id=key(p),
                partition=p,
                files_in=[e["file_path"] for e in ins],
                files_out=[e["file_path"] for e in outs],
                rows=sum(e["n_rows"] for e in outs),
                bytes_in=sum(e["file_size"] for e in ins),
                bytes_out=sum(e["file_size"] for e in outs),
            )
        if added or removed or artifacts_to_bind or views_to_bind:
            # partition-granularity column statistics travel WITH the replica
            # commit (the reference copies table- and partition-level
            # ColumnStatistics to the replica in 1000-partition batches,
            # core/replica/Replica.java:250-267). Here they are folded from
            # the source's per-file manifest stats — metadata-only, one dict
            # entry per replicated partition — so a replica reader gets
            # explicit partition stats without re-aggregating files.
            src_part_stats = source.table_stats(src_snap.snapshot_id)["partitions"]
            summary = {
                "mode": mode,
                "source_snapshot": src_snap.snapshot_id,
                "partitions": len(todo),
                "dropped_partitions": len(dropped),
                "partition_stats": {
                    p: src_part_stats[p] for p in todo if p in src_part_stats
                },
            }
            if artifacts_to_bind:
                summary["artifacts"] = replica.bind_artifacts_from(source)
            if views_to_bind:
                summary["views"] = {**rep_views, **views_to_bind}
            snap = replica.commit(
                operation=OP,
                added=added,
                removed_paths=removed,
                summary=summary,
                expected_parent_id=rep_snap.snapshot_id,
                event_id=run.run_id,
            )
    return ReplicationResult(
        snapshot_id=snap.snapshot_id if snap else None,
        mode=mode,
        partitions_replicated=todo,
        partitions_dropped=dropped,
        partitions_skipped=skipped,
        files_copied=len(added),
        rows_copied=sum(e["n_rows"] for e in added),
        bytes_copied=sum(e["file_size"] for e in added),
        duration_s=time.monotonic() - t0,
    )
