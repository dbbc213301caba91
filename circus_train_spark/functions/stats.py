"""Per-file column statistics via Arrow-vectorized pandas UDFs.

The north rule mandates per-file min/max column stats collected with
Arrow-vectorized pandas UDFs (no per-row Python). We group the freshly
written rows by physical file and compute min/max/count/digest per group with
``applyInPandas`` — one Arrow batch stream per file, numpy reductions inside.

Reference analogue: Circus Train copies per-partition column statistics to
the replica in batches (``core/replica/Replica.java:250-267``) and stamps a
checksum parameter per partition
(``comparator/.../AddCheckSumReplicaTableFactory.java:47-61``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from circus_train_spark.functions.digest import row_hash

FILE_STATS_SCHEMA = (
    "file_path string, partition string, n_rows long, "
    "min_doc_id string, max_doc_id string, "
    "min_n_tok int, max_n_tok int, min_zkey long, max_zkey long, xor_digest long"
)


def _stats_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    n_tok = pdf["n_tok"].to_numpy()
    # legacy/foreign files lack the hidden ``_h`` column: Spark yields nulls
    # (NaN after Arrow->pandas), which must surface as xor_digest=None so
    # the caller's recompute fallback triggers — not crash inside the UDF.
    if pdf["_h"].isna().any():
        xor_out = None
    else:
        h = pdf["_h"].to_numpy(dtype=np.int64).view(np.uint64)
        xor = np.bitwise_xor.reduce(h) if len(h) else np.uint64(0)
        xor_out = int(np.int64(xor))
    if "zkey" in pdf.columns and not pdf["zkey"].isna().any():
        zk = pdf["zkey"].to_numpy()
        min_z, max_z = (int(zk.min()), int(zk.max())) if len(zk) else (None, None)
    else:
        # any null zkey (never-clustered rows) → no bounds: conservative
        # keep-file convention for zkey-range pruning
        min_z = max_z = None
    return pd.DataFrame(
        {
            "file_path": [pdf["_file"].iloc[0]],
            "partition": [pdf["source"].iloc[0]],
            "n_rows": [len(pdf)],
            "min_doc_id": [pdf["doc_id"].min()],
            "max_doc_id": [pdf["doc_id"].max()],
            "min_n_tok": [int(n_tok.min())],
            "max_n_tok": [int(n_tok.max())],
            "min_zkey": [min_z],
            "max_zkey": [max_z],
            "xor_digest": [xor_out],
        }
    )


def per_file_stats(spark_df_with_file: DataFrame, zkey: bool = False) -> DataFrame:
    """Compute per-file stats rows in ONE distributed aggregation.

    Input must carry ``_file`` (the catalog's ``file_tag()``) and the
    per-row content hash ``_h`` — either the persisted hidden column
    (narrow stats read, no token decode) or a freshly computed
    ``row_hash()``. Output: one row per file (FILE_STATS_SCHEMA) including
    the file's partition value (files are single-``source`` by
    construction).
    """
    cols = ["_file", "doc_id", "n_tok", "source", "_h"]
    if zkey:
        cols.insert(3, F.col("zkey"))
    pruned = spark_df_with_file.select(*cols)
    return pruned.groupBy("_file").applyInPandas(_stats_fn, schema=FILE_STATS_SCHEMA)
