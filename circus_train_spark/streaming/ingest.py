"""Structured Streaming ingest into a token table — ACID micro-batches.

The reference is strictly batch (``Locomotive.java:50-58``; event-driven
replication is delegated to the external Shunting Yard project). Our engine
adds the lakehouse-native equivalent: a ``foreachBatch`` sink that turns
each micro-batch into one atomic snapshot commit, made **exactly-once** by
recording the micro-batch id in the lineage log — a redelivered batch
(Spark restarts replay the last uncommitted batch) is detected and skipped,
the same idempotency-by-deterministic-id posture as compaction resume.

Works with any streaming DataFrame of the data schema: file streams
(``spark.readStream.schema(...).parquet(dir)``), rate sources mapped to
synthetic rows, Kafka after parsing, etc. Use ``availableNow=True`` for
catch-up/batch-drain semantics, or a processing-time trigger for continuous
tailing; late data needs no watermark here because appends are
order-agnostic (ordering/clustering is the cluster operator's job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.lineage import STATUS_DONE

OP = "stream_ingest"


def ingest_stream(
    table: TokenTable,
    stream_df: DataFrame,
    checkpoint_dir: str,
    num_files: int | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    dedup_keys: tuple[str, ...] | None = None,
    dedup_ts_col: str | None = None,
    dedup_watermark: str = "1 hour",
    mode: str = "append",
):
    """Start a streaming query appending micro-batches to ``table``.

    ``mode="upsert"`` turns each micro-batch into a MERGE INTO instead of
    an append: rows whose ``doc_id`` exists are replaced, new ids
    inserted — a streaming CDC-apply sink. The exactly-once marker rides
    the SAME atomic commit (``extra_summary``), so replayed batches are
    skipped identically to append mode. Each batch must carry at most one
    row per ``doc_id`` (MERGE's ambiguity rule); cross-batch re-delivery
    is fine — an upsert re-applied is idempotent in content, and the
    batch-id marker skips it outright.

    Returns the ``StreamingQuery``; callers ``awaitTermination()`` it.
    Each batch becomes one snapshot (operation ``append``) plus one lineage
    record keyed ``batch-<id>`` — the exactly-once marker.

    ``dedup_keys`` adds in-flight duplicate suppression for at-least-once
    upstream producers: rows whose keys were already seen are dropped
    before the sink via ``dropDuplicatesWithinWatermark`` — checkpointed
    state, so suppression survives restarts, and the watermark bounds
    state to the last ``dedup_watermark`` of stream time instead of the
    unbounded key set plain ``dropDuplicates`` would retain. When the
    schema has no event-time column (the token schema doesn't), arrival
    time is stamped per micro-batch (``dedup_ts_col=None``); duplicates
    arriving farther apart than ``dedup_watermark`` of processing time are
    then NOT suppressed — that is the deliberate state/recall trade.
    """
    if mode not in ("append", "upsert"):
        raise ValueError(f"mode must be append|upsert, got {mode!r}")
    if dedup_keys:
        from pyspark.sql import functions as F

        ts = dedup_ts_col or "__ingest_ts"
        s = stream_df
        if dedup_ts_col is None:
            s = s.withColumn(ts, F.current_timestamp())
        s = s.withWatermark(ts, dedup_watermark).dropDuplicatesWithinWatermark(
            list(dedup_keys)
        )
        stream_df = s.drop("__ingest_ts") if dedup_ts_col is None else s

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        gid = f"batch-{batch_id}"
        # exactly-once: the authoritative done-set is the batch id stamped in
        # the summaries of the head's history — written in the SAME atomic
        # commit as the data, so there is no crash window between commit and
        # marker (a descriptor put by a commit that never swapped the head is
        # not in the history). The lineage record below is metrics only.
        # (Snapshot expiry can delete old descriptors, so the lineage log is
        # kept as a secondary guard for batches whose snapshots have been
        # expired.)
        done = {
            snap.summary.get("stream_batch_id")
            for snap in table.log.history()
            if "stream_batch_id" in snap.summary
        }
        done |= {
            r.group_id
            for r in table.lineage.records(OP)
            if r.status == STATUS_DONE
        }
        if gid in done or batch_id in done:  # redelivery after restart
            return
        # reconcile against the table's CURRENT schema: an alter_schema that
        # added a column while the stream runs must not fail every subsequent
        # micro-batch (the source stream's schema was fixed at start) —
        # columns the batch lacks are null-filled with their declared type,
        # exactly how the scan reconciles pre-evolution data files.
        from pyspark.sql import functions as F

        have = set(batch_df.columns)
        cols = [
            F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
            for f in table.data_schema().fields
        ]
        with table.lineage.run(OP) as run:
            if mode == "upsert":
                from circus_train_spark.operators.merge import merge_into

                res = merge_into(
                    table,
                    batch_df.select(*cols).withColumn("_op", F.lit("upsert")),
                    verify=False,
                    extra_summary={"stream_batch_id": gid},
                )
                snap = table.snapshot(res.snapshot_id)
            else:
                snap = table.append(
                    batch_df.select(*cols),
                    num_files=num_files,
                    summary={"stream_batch_id": gid},
                )
            entries = [
                e
                for e in table.manifest_entries(snap.snapshot_id)
                if e["added_snapshot_id"] == snap.snapshot_id
            ]
            run.record(
                group_id=gid,
                files_out=[e["file_path"] for e in entries],
                rows=sum(e["n_rows"] for e in entries),
                bytes_out=sum(e["file_size"] for e in entries),
            )

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
