"""Table validation — the compare-tables / check-filters tool analogue.

Circus Train ships dry-run tools: ``compare-tables.sh`` runs the full diff
and writes a report (``circus-train-comparison-tool/.../TableComparator
.java:39-71``) and ``check-filters.sh`` validates partition predicates
without mutating (``FilterGeneratorImpl.java:41-72``). Ours validates a
token table's metadata-vs-data parity:

- **file-level**: every manifest entry's (n_rows, xor_digest, file exists)
  re-derived from the data files in one distributed aggregation and joined
  back against the manifest (broadcast — the manifest side is small);
- **table-level**: manifest row-count/byte sums vs data-scan aggregates.

An independent audit after any maintenance op; the per-op ``verify=True``
checks, run on the staged snapshot before the head moves, are the fast path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from circus_train_spark.functions.digest import row_hash
from circus_train_spark.meta import schema as S
from circus_train_spark.meta.catalog import TokenTable, file_tag


@dataclass
class ValidationResult:
    ok: bool
    files_checked: int
    files_bad: int
    manifest_rows: int
    data_rows: int
    issues: list[str]


def file_audit(table: TokenTable, snapshot_id: int | None = None) -> DataFrame:
    """(file_path, status) per manifest entry; status ∈ ok | missing |
    row_count_mismatch | digest_mismatch."""
    import os

    entries = table.manifest_entries(snapshot_id)
    spark = table.spark
    manifest = spark.createDataFrame(
        [
            (e["file_path"], e["n_rows"], e["xor_digest"], os.path.exists(e["file_path"]))
            for e in entries
        ],
        "file_path string, m_rows long, m_digest long, exists boolean",
    )
    present = [e["file_path"] for e in entries if os.path.exists(e["file_path"])]
    if present:
        actual = (
            spark.read.schema(S.DATA_SCHEMA)
            .parquet(*present)
            .withColumn("_file", file_tag())
            .withColumn("_h", row_hash())
            .groupBy("_file")
            .agg(
                F.count(F.lit(1)).alias("d_rows"),
                F.expr("bit_xor(_h)").alias("d_digest"),
            )
        )
        joined = manifest.join(
            actual, manifest.file_path == actual._file, "left"
        )
    else:
        joined = manifest.withColumn("d_rows", F.lit(None).cast("long")).withColumn(
            "d_digest", F.lit(None).cast("long")
        )
    status = (
        F.when(~F.col("exists"), "missing")
        .when(
            F.col("d_rows").isNull() | (F.col("d_rows") != F.col("m_rows")),
            "row_count_mismatch",
        )
        .when(F.col("d_digest") != F.col("m_digest"), "digest_mismatch")
        .otherwise("ok")
    )
    return joined.select("file_path", status.alias("status"))


def validate(table: TokenTable, snapshot_id: int | None = None) -> ValidationResult:
    audit = file_audit(table, snapshot_id).cache()
    try:
        bad = audit.filter(F.col("status") != "ok").collect()
        n = audit.count()
    finally:
        audit.unpersist()
    import os

    entries = table.manifest_entries(snapshot_id)
    manifest_rows = sum(e["n_rows"] for e in entries)
    present = [e["file_path"] for e in entries if os.path.exists(e["file_path"])]
    data_rows = table.scan(files=present).count() if present else 0
    issues = [f"{r['file_path']}: {r['status']}" for r in bad]
    if manifest_rows != data_rows:
        issues.append(f"table rows: manifest={manifest_rows} data={data_rows}")
    return ValidationResult(
        ok=not issues,
        files_checked=n,
        files_bad=len(bad),
        manifest_rows=manifest_rows,
        data_rows=data_rows,
        issues=issues,
    )
