"""Row / file / table content digests — the scan-equality contract.

The reference proves replication fidelity with recursive path checksums
(file checksum -> serialized tree -> MD5/Base64,
``circus-train-comparator/.../PathToPathMetadata.java:43-69`` and
``PathDigest.java:55-70``). Our engine is row-aware (token-array equality per
row), so the digest is computed over row *content*, not file bytes — which is
what makes it invariant under compaction/clustering rewrites:

- per-row hash: ``xxhash64(doc_id, tokens, n_tok, source)`` (JVM-side,
  whole-stage-codegen, arrays hashed element-wise);
- per-file/table fold: order-insensitive ``bit_xor`` plus an overflow-free
  ``decimal(38,0)`` sum and a row count. Equal (count, xor, sum) before and
  after a maintenance op ⇒ the multiset of rows is unchanged with
  overwhelming probability, without ever collecting rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROW_HASH_COLS = ("doc_id", "tokens", "n_tok", "source")


def row_hash(*cols: str) -> Column:
    """xxhash64 over the full row content (deterministic, JVM-side)."""
    use = cols or ROW_HASH_COLS
    return F.xxhash64(*[F.col(c) for c in use])


def digest_agg(hash_col: str = "_h") -> list[Column]:
    h = F.col(hash_col)
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(f"bit_xor({hash_col})").alias("xor_digest"),
        F.sum(h.cast("decimal(38,0)")).alias("sum_digest"),
    ]


def table_digest(df: DataFrame, *cols: str) -> dict:
    """Whole-DataFrame content digest as a small dict (one aggregate job)."""
    row = df.withColumn("_h", row_hash(*cols)).agg(*digest_agg()).collect()[0]
    return {
        "n_rows": row["n_rows"],
        "xor_digest": row["xor_digest"],
        "sum_digest": int(row["sum_digest"]) if row["sum_digest"] is not None else None,
    }
