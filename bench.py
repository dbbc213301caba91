#!/usr/bin/env python
"""Benchmark harness: maintenance suite + headline queries at one scale.

Runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may
run on) against ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``) and prints ONE JSON line:

    {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...},
     "sf": ..., ...extra diagnostics...}

Workload:
1. **maintenance suite** on a deterministic token table sized from the sf
   (rows = 6 × |documents|, same data at any parallelism): append as many
   small files → FFD-compact → Z-order cluster → MERGE INTO → snapshot
   expire + manifest rewrite → full post-maintenance scan digest. Reports
   scan sequences/sec and compaction GB/hr (the BASELINE.md north metrics).
2. **headline queries** from ``__spark_entry__`` directly over the sf
   parquet tables (analytics, dedup, text, similarity).

``--cpus N`` overrides the core count (used by tools/run_scaling.sh to
evidence N→4N scaling efficiency on the same input).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

QUERY_NAMES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "checksum_rollup",
    "merge_classify",
    "binpack_nextfit_plan",
    "events_sessionize",
    "asof_last_signup",
    "bm25_score",
    "bpe_pair_topk",
    "filter_corpus",
    "dedup_exact_keep",
    "text_stats",
    "lang_id",
    "sim_topk",
    "minhash_lsh_dedup",
    "repetition_stats",
    "contamination_check",
]


def _force(df) -> int:
    """Force full computation of every column; returns row count."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"]


def run_maintenance(spark, sf_dir: str, cpus: int) -> dict:
    from circus_train_spark.meta.catalog import TokenTable
    from circus_train_spark.operators.cluster import cluster
    from circus_train_spark.operators.compact import compact
    from circus_train_spark.operators.expire import expire_snapshots
    from circus_train_spark.operators.manifest_rewrite import rewrite_manifests
    from circus_train_spark.operators.merge import merge_into
    from circus_train_spark.sources.generator import generate_changes, generate_tokens

    # size the token table from lineitem (the table that actually scales
    # with sf): ~1 GB of token data at sf0.1. SPARK_GRAFT_BENCH_ROWS
    # overrides (the scaling harness uses a larger fixed size so phases are
    # compute-bound, not job-overhead-bound).
    env_rows = os.environ.get("SPARK_GRAFT_BENCH_ROWS")
    if env_rows:
        n_rows = int(env_rows)
    else:
        n_li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        n_rows = max(10_000, n_li // 2)
    out: dict = {"rows": n_rows}

    # SPARK_GRAFT_BENCH_DIR relocates the bench table. Default: tmpfs when
    # available — this host's shared disk swings the write-heavy phases
    # 2-4x run-to-run (compact_s measured 5.6 / 13.0 / 30.9 s for identical
    # code in one hour; round-3 bench read a phantom "2x compact
    # regression" from exactly this). tmpfs measures the engine, not the
    # neighbor's I/O; set SPARK_GRAFT_BENCH_DIR=/tmp to force disk.
    bench_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR") or None
    if bench_dir is None and os.path.isdir("/dev/shm"):
        bench_dir = "/dev/shm/cts-bench"
    if bench_dir:
        os.makedirs(bench_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix="cts-bench-", dir=bench_dir)
    table = TokenTable.create(spark, os.path.join(root, "tbl"))

    # fixed generation partitioning → identical bytes at any parallelism
    df = generate_tokens(spark, n_rows, seed=42, partitions=64)

    t0 = time.monotonic()
    table.append(df, num_files=256)  # deliberately fragmented: compaction input
    out["append_s"] = round(time.monotonic() - t0, 3)

    entries = table.manifest_entries()
    total_bytes = sum(e["file_size"] for e in entries)
    out["table_gb"] = round(total_bytes / 1e9, 3)
    # FIXED target regardless of parallelism: the scaling comparison must
    # run the identical job config at both cluster sizes (a cpu-dependent
    # target silently equalizes wall time by construction). 64 MB yields
    # enough groups/ranges to occupy 32 slots at the bench data size.
    target = 64 * 1024 * 1024

    t0 = time.monotonic()
    res = compact(
        table,
        target_file_bytes=target,
        max_concurrency=cpus,
        verify=False,
    )
    dt = time.monotonic() - t0
    out["compact_s"] = round(dt, 3)
    out["compact_files_in"] = res.files_in
    out["compact_files_out"] = res.files_out
    out["compact_gb_per_hr"] = round(res.bytes_in / 1e9 / (dt / 3600), 2)

    t0 = time.monotonic()
    cluster(table, target_file_bytes=target, verify=False)
    out["cluster_s"] = round(time.monotonic() - t0, 3)

    changes = generate_changes(spark, n_rows, seed=42)
    t0 = time.monotonic()
    merge_into(table, changes, verify=False)
    out["merge_s"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    expire_snapshots(table, keep_last=1)
    rewrite_manifests(table, target_manifests=1)
    out["expire_rewrite_s"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    digest = table.table_digest(fast=False)  # FULL decode: the scan metric
    dt = time.monotonic() - t0
    out["scan_s"] = round(dt, 3)
    out["scan_rows"] = digest["n_rows"]
    out["scan_seq_per_sec"] = round(digest["n_rows"] / dt, 1)

    # the verify-path digest (persisted-hash narrow read, ~8 bytes/row) —
    # reported separately so the cost of scan-equality checks is visible
    t0 = time.monotonic()
    fast = table.table_digest(fast=True)
    out["scan_fast_s"] = round(time.monotonic() - t0, 3)
    assert fast == digest, "fast digest must equal full recompute"

    table.drop()
    shutil.rmtree(root, ignore_errors=True)  # never leak tmpfs (RAM) bytes
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument("--skip-maintenance", action="store_true")
    args = ap.parse_args()

    from circus_train_spark.session import get_spark, host_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = args.cpus or host_cpus()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = get_spark(
        "bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )

    # prewarm executor python workers (Arrow/pandas runtime) so one-time
    # interpreter startup isn't billed to the first measured phase
    import pandas as pd

    spark.range(cpus * 4, numPartitions=cpus).groupBy("id").applyInPandas(
        lambda pdf: pdf, schema="id long"
    ).count()

    wall0 = time.monotonic()
    result: dict = {"sf": sf, "cpus": cpus}

    # The sandbox host is multi-tenant: identical code measured 5.6 / 13.0 /
    # 30.9 s for compact_s (and 9.8 / 28.8 s for minhash) within one hour.
    # One draw is therefore not a measurement — run the suite
    # SPARK_GRAFT_BENCH_REPEATS times (default 2) and report the per-phase /
    # per-query MINIMUM, the standard noise-floor estimator for shared
    # hosts. The aggregation is declared in the output.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    result["repeats"] = repeats
    result["aggregation"] = "min" if repeats > 1 else "single"

    queries_out: dict[str, float] = {}
    if not args.skip_maintenance:
        best: dict = {}
        best_wall = None
        for _ in range(repeats):
            t0 = time.monotonic()
            maint = run_maintenance(spark, sf_dir, cpus)
            wall = round(time.monotonic() - t0, 3)
            if best_wall is None or wall < best_wall:
                best_wall = wall
            for k, v in maint.items():
                if k.endswith("_s"):
                    best[k] = min(best[k], v) if k in best else v
                else:
                    best[k] = v
        # rates re-derived from the min times (constant bytes/rows per pass)
        if "compact_s" in best:
            best["compact_gb_per_hr"] = round(
                best["table_gb"] / (best["compact_s"] / 3600), 2
            )
        if "scan_s" in best:
            best["scan_seq_per_sec"] = round(best["scan_rows"] / best["scan_s"], 1)
        queries_out["maintenance_suite"] = best_wall
        result.update(best)

    if not args.skip_queries:
        import __spark_entry__ as entry

        qs = entry.queries()
        for _ in range(repeats):
            for name in QUERY_NAMES:
                t0 = time.monotonic()
                _force(qs[name](spark, sf_dir))
                dt = round(time.monotonic() - t0, 3)
                queries_out[name] = min(queries_out.get(name, dt), dt)

    result.update(
        {
            "metric": "bench_suite_wall",
            # the de-noised suite wall: sum of per-phase/per-query minima
            # (directly comparable across rounds regardless of repeats)
            "value": round(sum(queries_out.values()), 3),
            "unit": "sec",
            "wall_elapsed_s": round(time.monotonic() - wall0, 3),
            "queries": queries_out,
        }
    )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
