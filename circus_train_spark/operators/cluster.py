"""Z-order / Hilbert clustering: single-data-pass, explicit range bins.

Plan:
1. **byte-budget planning from the manifest** (no data read): per source,
   n_bins = ceil(source_bytes / target) — the skewed hot source gets
   proportionally many output bins by construction (the north rule's skew
   handling, explicit instead of sampled);
2. **boundary sampling on narrow columns only**: one job reads just
   (doc_id, n_tok, source) — parquet column pruning keeps the token arrays
   on disk — computes zkey with the numpy bit-interleave pandas UDF
   (``functions/zorder.py``) and takes per-source ``percentile_approx``
   quantiles as bin boundaries. This replaces ``repartitionByRange``'s
   sampler, which re-evaluates the FULL child (token decode + key UDF) in
   an extra pass over all data;
3. **one full pass**: compute (zkey, bin) in a single Arrow UDF
   (vectorized ``np.searchsorted`` against the boundaries), hash-shuffle on
   ``bin`` (each bin lands wholly in one task), sort within tasks by
   (source, bin, zkey), and write with ``partitionBy(source, bin)`` — the
   dynamic-partition writer emits **exactly one file per bin**, zkey-sorted,
   ~target bytes, single-source, even when a task carries several bins;
4. per-file min/max **zkey** stats (narrow stats read over the hidden
   persisted columns) go into the manifest for stats-based file skipping;
5. single atomic commit replacing the partition's files; with ``verify``
   the staged snapshot's order-insensitive digest must equal that of the
   snapshot it lands on before the head moves.

Exactly one shuffle of the wide rows and exactly one decode of the token
arrays. At 100 TB: boundaries are O(total_bins) driver memory, the boundary
job reads <1% of table bytes, and no task sees more than ~2 bins of data
(hash balls-in-bins with 2x headroom on shuffle partitions).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from circus_train_spark.functions.digest import row_hash
from circus_train_spark.functions.zorder import make_zbin_udf, with_zkey
from circus_train_spark.meta import schema as S
from circus_train_spark.meta.catalog import TokenTable
from circus_train_spark.meta.writers import WriteRequest, writer_for

OP = "cluster"

# Max bins resolved by one percentile_approx sketch; sources needing more
# are hash-sub-sharded so the per-source bin budget is unbounded.
MAX_SHARD_BINS = 4096


@dataclass
class ClusterResult:
    snapshot_id: int | None
    files_in: int
    files_out: int
    bytes_in: int
    rows: int
    curve: str
    duration_s: float


def cluster(
    table: TokenTable,
    target_file_bytes: int = 512 * 1024 * 1024,
    partitions: list[str] | None = None,
    curve: str = "zorder",
    verify: bool = True,
    run_id: str | None = None,
    max_shard_bins: int = MAX_SHARD_BINS,
) -> ClusterResult:
    t0 = time.monotonic()
    base = table.current_snapshot()

    entries = table.manifest_entries(base.snapshot_id)
    if partitions is not None:
        keep = set(partitions)
        entries = [e for e in entries if e["partition"] in keep]
    if not entries:
        return ClusterResult(None, 0, 0, 0, 0, curve, 0.0)

    in_files = [e["file_path"] for e in entries]
    bytes_in = sum(e["file_size"] for e in entries)
    rows_in = sum(e["n_rows"] for e in entries)
    # driver-side planning constants from manifest stats — no data scan
    sources = sorted({e["partition"] for e in entries if e["partition"]})
    source_codes = {s: i for i, s in enumerate(sources)}
    n_tok_min = min(e["min_n_tok"] for e in entries if e["min_n_tok"] is not None)
    n_tok_max = max(e["max_n_tok"] for e in entries if e["max_n_tok"] is not None)
    bytes_by_source: dict[str, int] = {}
    for e in entries:
        bytes_by_source[e["partition"]] = (
            bytes_by_source.get(e["partition"], 0) + e["file_size"]
        )
    # byte-proportional bin budget per source (explicit skew handling)
    n_bins = {
        s: max(1, math.ceil(b / target_file_bytes)) for s, b in bytes_by_source.items()
    }
    # two-level boundaries: a source whose bin budget exceeds one
    # percentile_approx's useful resolution is hash-split into sub-shards
    # (pmod(xxhash64(doc_id), n_shards)), each quantiled independently —
    # so the per-source bin count is unbounded (a 100 TB single source gets
    # its full ~200k bins) while every sketch stays <= MAX_SHARD_BINS wide.
    n_shards = {
        s: max(1, math.ceil(n_bins[s] / max_shard_bins)) for s in sources
    }
    shard_bins: dict[str, list[int]] = {}
    for s in sources:
        k, rem = divmod(n_bins[s], n_shards[s])
        shard_bins[s] = [k + (1 if i < rem else 0) for i in range(n_shards[s])]
    offsets: dict[str, list[int]] = {}
    acc = 0
    for s in sources:
        offsets[s] = []
        for kb in shard_bins[s]:
            offsets[s].append(acc)
            acc += kb
    n_out = acc

    # boundary sampling: narrow columns only (tokens stay on disk)
    boundaries: dict[str, list[list[int]]] = {
        s: [[] for _ in range(n_shards[s])] for s in sources
    }
    q_fine = min(
        max_shard_bins, max(kb for per in shard_bins.values() for kb in per)
    )
    if q_fine > 1:
        narrow = table.read_files(
            in_files, S.STATS_READ_SCHEMA, base.snapshot_id
        ).select("doc_id", "n_tok", "source")
        zn = with_zkey(narrow, source_codes, n_tok_min, n_tok_max, curve=curve)
        shard_expr = F.lit(0)
        for s in sources:
            if n_shards[s] > 1:
                shard_expr = F.when(
                    F.col("source") == s,
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_shards[s])),
                ).otherwise(shard_expr)
        zn = zn.withColumn("_shard", shard_expr.cast("int"))
        probs = [i / q_fine for i in range(1, q_fine)]
        qrows = (
            zn.groupBy("source", "_shard")
            .agg(F.percentile_approx("zkey", probs, 10_000).alias("qs"))
            .collect()
        )
        fine = {(r["source"], r["_shard"]): list(r["qs"]) for r in qrows}
        for s in sources:
            for sh in range(n_shards[s]):
                k = shard_bins[s][sh]
                qs = fine.get((s, sh))
                if k <= 1 or not qs:
                    continue
                # pick k-1 evenly spaced fine quantiles as bin boundaries
                picked = {
                    qs[min(len(qs) - 1, max(0, round(j * q_fine / k) - 1))]
                    for j in range(1, k)
                }
                boundaries[s][sh] = sorted(picked)

    zbin = make_zbin_udf(
        source_codes, n_tok_min, n_tok_max, curve, boundaries, offsets, n_shards
    )
    df = table.scan(files=in_files)
    data_cols = [f.name for f in table.data_schema().fields]
    out = (
        df.withColumn("_zb", zbin(F.xxhash64("doc_id"), F.col("n_tok"), F.col("source")))
        .select(
            *data_cols,
            F.col("_zb.zkey").alias(S.ZKEY_COL),
            F.col("_zb.bin").alias("_bin"),
        )
        # hash exchange on bin: each bin lands wholly in one task; 2x
        # shuffle-partition headroom keeps the balls-in-bins max load ~1-2
        # bins per task. The dynamic-partition writer (sorted by the
        # partition dirs) then emits exactly one zkey-sorted file per bin.
        .repartition(max(2 * n_out, 1), "_bin")
        .sortWithinPartitions(F.col("source"), F.col("_bin"), F.col(S.ZKEY_COL))
        # persist zkey + row hash as hidden columns: the manifest stats pass
        # below reads ONLY narrow columns — token arrays are never re-decoded
        # and the zkey pandas UDF never re-runs
        .withColumn(S.ROW_HASH_COL, row_hash())
        .withColumn(S.WRITE_PART_COL, F.col("source"))
    )
    with table.lineage.run(OP, run_id) as run:
        out_dir = f"{table.data_dir}/{run.run_id}/clustered"
        writer_for(out_dir).write(
            WriteRequest(
                df=out,
                dest_dir=out_dir,
                partition_cols=[S.WRITE_PART_COL, "_bin"],
                codec=S.TOKEN_PARQUET_CODEC,
                mode="overwrite",
            )
        )
        added = table.collect_entries_for_dir(out_dir, zkey=True)
        snap = table.commit(
            operation=OP,
            added=added,
            removed_paths=set(in_files),
            summary={"curve": curve, "n_out": n_out},
            expected_parent_id=base.snapshot_id,
            event_id=run.run_id,
            check=table.assert_rows_preserved if verify else None,
        )
        run.record(
            partition=",".join(sorted(source_codes)) if partitions else None,
            files_in=in_files,
            files_out=[e["file_path"] for e in added],
            rows=rows_in,
            bytes_in=bytes_in,
            bytes_out=sum(e["file_size"] for e in added),
        )
    return ClusterResult(
        snapshot_id=snap.snapshot_id,
        files_in=len(in_files),
        files_out=len(added),
        bytes_in=bytes_in,
        rows=rows_in,
        curve=curve,
        duration_s=time.monotonic() - t0,
    )


