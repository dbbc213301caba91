"""spark-submit entry point for every maintenance job.

The reference drives everything through ``circus-train.sh --config=...
--modules=replication|housekeeping`` plus standalone tools
(``compare-tables.sh``, ``check-filters.sh``); our equivalent is one CLI
with subcommands, run as

    spark-submit --py-files circus_train_spark.zip -m circus_train_spark ...
    # or locally:
    python -m circus_train_spark <subcommand> --table /path [...]

Subcommands: create · append · compact · cluster · expire · remove-orphans ·
housekeeping · rewrite-manifests · merge · replicate · diff · validate ·
history · check-filter · delete · update · rollback · tag · branch · refs ·
scan (time-travel digest) · run (JSON job config, sequential with per-job
failure isolation — the Locomotive driver loop).

Partition filters may embed SpEL-style dynamic date blocks
(``#{#nowUtc().minusDays(3).toString("yyyy-MM-dd")}``) which are folded to
literals before planning — see ``functions/expressions.py``.

Each prints one JSON result line (the job metrics the reference emits via
its listener/metrics pipeline — ``core/event/MetricsListener.java:66-93``).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys


def _json(obj) -> None:
    if dataclasses.is_dataclass(obj):
        obj = dataclasses.asdict(obj)
    print(json.dumps(obj, default=str))


def _pair(text: str) -> tuple[str, str]:
    """``KEY=VALUE`` -> ``(KEY, VALUE)``; argparse reports anything else
    as a usage error naming the bad value."""
    key, sep, value = text.partition("=")
    if not sep:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="circus_train_spark")
    p.add_argument("--master", default=None, help="spark master (default: env/local[*])")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("create", help="create an empty token table")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser("append", help="append synthetic rows (generator)")
    sp.add_argument("--table", required=True)
    sp.add_argument("--rows", type=int, required=True)
    sp.add_argument("--seed", type=int, default=42)
    sp.add_argument("--files", type=int, default=None)

    sp = sub.add_parser("compact", help="FFD bin-packed small-file compaction")
    sp.add_argument("--table", required=True)
    sp.add_argument("--target-mb", type=int, default=512)
    sp.add_argument("--partitions", nargs="*", default=None)
    sp.add_argument("--max-concurrency", type=int, default=8)
    sp.add_argument("--no-verify", action="store_true")
    sp.add_argument("--run-id", default=None)

    sp = sub.add_parser("cluster", help="Z-order/Hilbert clustering rewrite")
    sp.add_argument("--table", required=True)
    sp.add_argument("--target-mb", type=int, default=512)
    sp.add_argument("--curve", choices=["zorder", "hilbert"], default="zorder")
    sp.add_argument("--partitions", nargs="*", default=None)
    sp.add_argument("--no-verify", action="store_true")

    sp = sub.add_parser("expire", help="expire old snapshots + delete orphans")
    sp.add_argument("--table", required=True)
    sp.add_argument("--keep-last", type=int, default=2)
    sp.add_argument("--older-than-ms", type=int, default=None)
    sp.add_argument("--dry-run", action="store_true")
    sp.add_argument(
        "--grace-ms",
        type=int,
        default=0,
        help="defer physical deletes into the housekeeping queue for this long",
    )

    sp = sub.add_parser(
        "remove-orphans", help="delete files referenced by no snapshot"
    )
    sp.add_argument("--table", required=True)
    sp.add_argument("--grace-ms", type=int, default=None)
    sp.add_argument("--dry-run", action="store_true")

    sp = sub.add_parser(
        "housekeeping", help="apply grace-expired deferred deletions"
    )
    sp.add_argument("--table", required=True)
    sp.add_argument("--grace-ms", type=int, default=None)

    sp = sub.add_parser(
        "check-filter",
        help="dry-run a (dynamic) partition filter against a table "
        "(the check-filters.sh tool analogue)",
    )
    sp.add_argument("--table", required=True)
    sp.add_argument("--filter", required=True)
    sp.add_argument("--limit", type=int, default=None)

    sp = sub.add_parser("rewrite-manifests", help="coalesce manifest files")
    sp.add_argument("--table", required=True)
    sp.add_argument("--target", type=int, default=1)

    sp = sub.add_parser("merge", help="MERGE INTO from a changes parquet")
    sp.add_argument("--table", required=True)
    sp.add_argument(
        "--changes", required=True, help="parquet with data columns + _op"
    )
    sp.add_argument("--no-verify", action="store_true")

    sp = sub.add_parser("replicate", help="replicate source table → replica")
    sp.add_argument("--source", required=True)
    sp.add_argument("--replica", required=True)
    sp.add_argument(
        "--mode", choices=["full", "incremental", "metadata"], default="incremental"
    )
    sp.add_argument("--partition-filter", default=None)
    sp.add_argument("--partition-limit", type=int, default=None)
    sp.add_argument("--propagate-deletes", action="store_true")
    sp.add_argument(
        "--table-mapping",
        action="append",
        default=None,
        type=_pair,
        metavar="src_db.src_tbl=dst_db.dst_tbl",
        help="rewrite this table reference inside replicated view text "
        "(repeatable; the hive-view HqlTranslator analogue)",
    )

    sp = sub.add_parser("create-view", help="store a named SQL view definition")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)
    sp.add_argument("--sql", required=True)

    sp = sub.add_parser("drop-view", help="drop a stored view definition")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)

    sp = sub.add_parser("views", help="list stored view definitions")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser(
        "run-view",
        help="execute a stored view with the table bound to a qualified name",
    )
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)
    sp.add_argument(
        "--bind",
        action="append",
        default=None,
        metavar="db.tbl",
        help="qualified name(s) in the view text to bind to this table's scan",
    )
    sp.add_argument("--limit", type=int, default=20)

    sp = sub.add_parser("diff", help="source-vs-replica partition diff")
    sp.add_argument("--source", required=True)
    sp.add_argument("--replica", required=True)

    sp = sub.add_parser(
        "compare",
        help="render a source-vs-replica difference report "
        "(the compare-tables.sh tool analogue)",
    )
    sp.add_argument("--source", required=True)
    sp.add_argument("--replica", required=True)
    sp.add_argument("--output", default=None, help="write the report here too")

    sp = sub.add_parser("validate", help="metadata-vs-data parity audit")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser("history", help="snapshot log of a table")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser("delete", help="DELETE FROM ... WHERE predicate")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True, help="SQL predicate over data columns")
    sp.add_argument(
        "--mode",
        choices=["cow", "mor", "mor-pos", "auto"],
        default="auto",
        help="copy-on-write rewrite, merge-on-read delete file, or "
        "auto (MOR when the touched-row fraction is small)",
    )
    sp.add_argument("--no-verify", action="store_true")

    sp = sub.add_parser("update", help="UPDATE ... SET col=expr WHERE predicate")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True)
    sp.add_argument(
        "--set",
        required=True,
        nargs="+",
        type=_pair,
        metavar="COL=EXPR",
        help="assignments, e.g. source=upper(source)",
    )
    sp.add_argument("--mode", choices=["cow", "mor"], default="cow")

    sp = sub.add_parser(
        "rollback", help="restore a retained snapshot (metadata-only commit)"
    )
    sp.add_argument("--table", required=True)
    sp.add_argument("--snapshot", type=int, required=True)

    sp = sub.add_parser("tag", help="name a snapshot (immutable ref)")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)
    sp.add_argument("--snapshot", type=int, default=None)

    sp = sub.add_parser("branch", help="create a named branch at a snapshot")
    sp.add_argument("--table", required=True)
    sp.add_argument("--name", required=True)
    sp.add_argument("--snapshot", type=int, default=None)

    sp = sub.add_parser("refs", help="list branches/tags")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser(
        "scan", help="digest-summary scan (optionally time-travelled)"
    )
    sp.add_argument("--table", required=True)
    sp.add_argument("--snapshot", type=int, default=None)
    sp.add_argument("--as-of-ms", type=int, default=None)

    sp = sub.add_parser(
        "run",
        help="run a JSON job config sequentially with per-job failure "
        "isolation (the Locomotive driver-loop analogue)",
    )
    sp.add_argument("--config", required=True)

    a = p.parse_args(argv)

    from circus_train_spark.meta.catalog import TokenTable
    from circus_train_spark.session import get_spark

    spark = get_spark(f"cts-{a.cmd}", master=a.master)

    if a.cmd == "create":
        t = TokenTable.create(spark, a.table)
        _json({"created": a.table, "snapshot": t.log.current_id()})
        return 0

    if a.cmd == "append":
        from circus_train_spark.sources.generator import generate_tokens

        t = TokenTable.load(spark, a.table)
        snap = t.append(
            generate_tokens(spark, a.rows, seed=a.seed), num_files=a.files
        )
        _json({"snapshot": snap.snapshot_id, "rows": a.rows})
        return 0

    if a.cmd == "compact":
        from circus_train_spark.operators.compact import compact

        t = TokenTable.load(spark, a.table)
        _json(
            compact(
                t,
                target_file_bytes=a.target_mb * 1024 * 1024,
                partitions=a.partitions,
                max_concurrency=a.max_concurrency,
                verify=not a.no_verify,
                run_id=a.run_id,
            )
        )
        return 0

    if a.cmd == "cluster":
        from circus_train_spark.operators.cluster import cluster

        t = TokenTable.load(spark, a.table)
        _json(
            cluster(
                t,
                target_file_bytes=a.target_mb * 1024 * 1024,
                partitions=a.partitions,
                curve=a.curve,
                verify=not a.no_verify,
            )
        )
        return 0

    if a.cmd == "expire":
        from circus_train_spark.operators.expire import expire_snapshots

        t = TokenTable.load(spark, a.table)
        _json(
            expire_snapshots(
                t,
                keep_last=a.keep_last,
                older_than_ms=a.older_than_ms,
                dry_run=a.dry_run,
                grace_period_ms=a.grace_ms,
            )
        )
        return 0

    if a.cmd == "remove-orphans":
        from circus_train_spark.operators.housekeeping import (
            DEFAULT_GRACE_MS,
            remove_orphan_files,
        )

        t = TokenTable.load(spark, a.table)
        _json(
            remove_orphan_files(
                t,
                grace_period_ms=(
                    a.grace_ms if a.grace_ms is not None else DEFAULT_GRACE_MS
                ),
                dry_run=a.dry_run,
            )
        )
        return 0

    if a.cmd == "housekeeping":
        from circus_train_spark.operators.housekeeping import (
            DEFAULT_GRACE_MS,
            run_housekeeping,
        )

        t = TokenTable.load(spark, a.table)
        _json(
            run_housekeeping(
                t,
                grace_period_ms=(
                    a.grace_ms if a.grace_ms is not None else DEFAULT_GRACE_MS
                ),
            )
        )
        return 0

    if a.cmd == "check-filter":
        from circus_train_spark.functions.expressions import resolve_expressions

        t = TokenTable.load(spark, a.table)
        resolved = resolve_expressions(a.filter)
        parts = t.select_partitions(resolved, a.limit)
        _json({"filter": a.filter, "resolved": resolved, "partitions": parts})
        return 0

    if a.cmd == "rewrite-manifests":
        from circus_train_spark.operators.manifest_rewrite import rewrite_manifests

        t = TokenTable.load(spark, a.table)
        _json(rewrite_manifests(t, target_manifests=a.target))
        return 0

    if a.cmd == "merge":
        from circus_train_spark.operators.merge import merge_into

        t = TokenTable.load(spark, a.table)
        changes = spark.read.parquet(a.changes)
        _json(merge_into(t, changes, verify=not a.no_verify))
        return 0

    if a.cmd == "replicate":
        from circus_train_spark.functions.expressions import resolve_expressions
        from circus_train_spark.operators.replicate import replicate

        src = TokenTable.load(spark, a.source)
        try:
            rep = TokenTable.load(spark, a.replica)
        except FileNotFoundError:
            rep = TokenTable.create(spark, a.replica)
        # SpEL-equivalent constant folding BEFORE planning (reference:
        # SpelParsedPartitionPredicate.java:38-52): relative-date blocks
        # become literals and Catalyst sees a constant predicate
        pf = (
            resolve_expressions(a.partition_filter)
            if a.partition_filter
            else None
        )
        _json(
            replicate(
                src,
                rep,
                mode=a.mode,
                partition_filter=pf,
                partition_limit=a.partition_limit,
                propagate_deletes=a.propagate_deletes,
                table_mappings=dict(a.table_mapping or []) or None,
            )
        )
        return 0

    if a.cmd == "create-view":
        t = TokenTable.load(spark, a.table)
        snap = t.create_view(a.name, a.sql)
        _json({"view": a.name, "snapshot": snap.snapshot_id})
        return 0

    if a.cmd == "drop-view":
        t = TokenTable.load(spark, a.table)
        snap = t.drop_view(a.name)
        _json({"dropped": a.name, "snapshot": snap.snapshot_id})
        return 0

    if a.cmd == "views":
        t = TokenTable.load(spark, a.table)
        _json(t.views())
        return 0

    if a.cmd == "run-view":
        from circus_train_spark.operators.views import run_view

        t = TokenTable.load(spark, a.table)
        bindings = {q: t for q in (a.bind or [])}
        for r in run_view(t, a.name, bindings=bindings).limit(a.limit).collect():
            _json(r.asDict())
        return 0

    if a.cmd == "diff":
        from circus_train_spark.operators.diff import table_diff

        src = TokenTable.load(spark, a.source)
        rep = TokenTable.load(spark, a.replica)
        for r in table_diff(src, rep).orderBy("partition").collect():
            _json(r.asDict())
        return 0

    if a.cmd == "compare":
        from circus_train_spark.operators.diff import render_comparison

        src = TokenTable.load(spark, a.source)
        rep = TokenTable.load(spark, a.replica)
        report, n_diff = render_comparison(src, rep)
        print(report)
        if a.output:
            with open(a.output, "w") as f:
                f.write(report + "\n")
        return 0 if n_diff == 0 else 1

    if a.cmd == "validate":
        from circus_train_spark.operators.validate import validate

        t = TokenTable.load(spark, a.table)
        res = validate(t)
        _json(res)
        return 0 if res.ok else 1

    if a.cmd == "delete":
        from circus_train_spark.operators.delete import delete_where

        t = TokenTable.load(spark, a.table)
        _json(delete_where(t, a.where, mode=a.mode, verify=not a.no_verify))
        return 0

    if a.cmd == "update":
        from circus_train_spark.operators.delete import update_where

        t = TokenTable.load(spark, a.table)
        _json(update_where(t, a.where, dict(getattr(a, "set")), mode=a.mode))
        return 0

    if a.cmd == "rollback":
        from circus_train_spark.operators.rollback import rollback

        t = TokenTable.load(spark, a.table)
        snap = rollback(t, a.snapshot)
        _json({"restored": a.snapshot, "new_snapshot": snap.snapshot_id})
        return 0

    if a.cmd == "tag":
        t = TokenTable.load(spark, a.table)
        sid = t.create_tag(a.name, a.snapshot)
        _json({"tag": a.name, "snapshot": sid})
        return 0

    if a.cmd == "branch":
        t = TokenTable.load(spark, a.table)
        sid = t.create_branch(a.name, a.snapshot)
        _json({"branch": a.name, "snapshot": sid})
        return 0

    if a.cmd == "refs":
        t = TokenTable.load(spark, a.table)
        _json(t.refs())
        return 0

    if a.cmd == "scan":
        t = TokenTable.load(spark, a.table)
        sid = a.snapshot
        if a.as_of_ms is not None:
            sid = t.snapshot_as_of(a.as_of_ms).snapshot_id
        _json(
            {
                "snapshot": sid if sid is not None else t.log.current_id(),
                "digest": t.table_digest(fast=True, snapshot_id=sid),
            }
        )
        return 0

    if a.cmd == "run":
        from circus_train_spark.pipeline.runner import run_config_file

        report = run_config_file(spark, a.config)
        _json(report.as_dict())
        return 0 if report.ok else 1

    if a.cmd == "history":
        t = TokenTable.load(spark, a.table)
        for s in t.log.snapshots().values():
            _json(
                {
                    "snapshot_id": s.snapshot_id,
                    "operation": s.operation,
                    "event_id": s.event_id,
                    "timestamp_ms": s.timestamp_ms,
                    "manifests": len(s.manifests),
                    "summary": s.summary,
                }
            )
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
