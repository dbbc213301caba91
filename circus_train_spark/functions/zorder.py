"""Z-order / Hilbert clustering keys — numpy bit-interleaving, no per-row Python.

Z-order key = bit-interleave of up to three 21-bit dimensions
(xxhash64(doc_id) folded to 21 bits, n_tok scaled to 21 bits, source
dictionary code) giving a 63-bit morton key that fits a Spark LongType.
All math is vectorized numpy ``uint64`` ops inside an Arrow pandas UDF.

Hilbert fallback: 2-D Hilbert curve index over (doc_id-hash, n_tok) — better
locality preservation than morton at the cost of an iterative (but still
row-vectorized) bit sweep.

The reference has no clustering; the north rule adds it. The per-dimension
decomposition mirrors how Circus Train renders partition values into ordered
partition names (``Warehouse.makePartName`` usage at
``comparator/.../hive/HiveDifferences.java:195-204``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BITS = 21  # per-dimension bits; 3*21 = 63 <= signed int64


def _spread3(x: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits of x so there are two zero bits between each
    (classic 3-D morton magic-mask sequence, vectorized uint64)."""
    x = x.astype(np.uint64) & np.uint64((1 << BITS) - 1)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def _spread2(x: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits with one zero bit between each (2-D morton)."""
    x = x.astype(np.uint64) & np.uint64((1 << BITS) - 1)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def morton3(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    return (
        _spread3(a) | (_spread3(b) << np.uint64(1)) | (_spread3(c) << np.uint64(2))
    ).astype(np.int64)


def morton2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (_spread2(a) | (_spread2(b) << np.uint64(1))).astype(np.int64)


def hilbert2(x: np.ndarray, y: np.ndarray, bits: int = BITS) -> np.ndarray:
    """Vectorized 2-D Hilbert curve distance (xy -> d), standard iterative
    quadrant-rotation algorithm; loop is over ``bits`` (21), not rows."""
    x = x.astype(np.uint64) & np.uint64((1 << bits) - 1)
    y = y.astype(np.uint64) & np.uint64((1 << bits) - 1)
    rx = np.zeros_like(x)
    ry = np.zeros_like(y)
    d = np.zeros_like(x)
    s = np.uint64(1 << (bits - 1))
    one = np.uint64(1)
    zero = np.uint64(0)
    while s > 0:
        rx = np.where((x & s) > 0, one, zero)
        ry = np.where((y & s) > 0, one, zero)
        d += s * s * ((np.uint64(3) * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - one - x, x)
        y_f = np.where(flip, s - one - y, y)
        x, y = np.where(swap, y_f, x_f), np.where(swap, x_f, y_f)
        s >>= one
    return d.astype(np.int64)


def _fold_hash_to_bits(h: np.ndarray, bits: int = BITS) -> np.ndarray:
    """Fold a signed int64 hash into an unsigned ``bits``-wide value."""
    u = h.astype(np.uint64)
    return (u ^ (u >> np.uint64(bits)) ^ (u >> np.uint64(2 * bits))) & np.uint64(
        (1 << bits) - 1
    )


def _scale_to_bits(v: np.ndarray, v_min: int, v_max: int, bits: int = BITS) -> np.ndarray:
    """Min-max scale an integer column into the full ``bits`` range so the
    interleave gives each dimension comparable resolution."""
    span = max(1, int(v_max) - int(v_min))
    scaled = (v.astype(np.float64) - float(v_min)) * ((1 << bits) - 1) / span
    return np.clip(scaled, 0, (1 << bits) - 1).astype(np.uint64)


def _key_kernel(
    source_codes: dict[str, int], n_tok_min: int, n_tok_max: int, curve: str
):
    """``(doc_hash, n_tok, source) -> int64 keys``: folded doc hash and
    scaled ``n_tok`` on a Hilbert curve, or with the source code on a morton
    curve. Boundary sampling and the write pass share it, so a row's bin is
    looked up with the key its boundaries were cut from."""
    codes = dict(source_codes)

    def keys(doc_hash: pd.Series, n_tok: pd.Series, source: pd.Series) -> np.ndarray:
        a = _fold_hash_to_bits(doc_hash.to_numpy())
        b = _scale_to_bits(n_tok.to_numpy(), n_tok_min, n_tok_max)
        if curve == "hilbert":
            return hilbert2(a, b)
        c = source.map(codes).fillna(0).to_numpy(dtype=np.uint64)
        return morton3(a, b, c)

    return keys


def make_zkey_udf(
    source_codes: dict[str, int],
    n_tok_min: int,
    n_tok_max: int,
    curve: str = "zorder",
):
    """Build a pandas UDF computing the clustering key.

    ``source_codes`` is a driver-computed dictionary code for the (low
    cardinality) ``source`` column; it is captured in the closure and shipped
    once per task via Arrow, never per row.
    """
    keys = _key_kernel(source_codes, n_tok_min, n_tok_max, curve)

    @F.pandas_udf(T.LongType())
    def zkey(doc_hash: pd.Series, n_tok: pd.Series, source: pd.Series) -> pd.Series:
        return pd.Series(keys(doc_hash, n_tok, source))

    return zkey


def with_zkey(
    df: DataFrame,
    source_codes: dict[str, int],
    n_tok_min: int,
    n_tok_max: int,
    curve: str = "zorder",
    out_col: str = "zkey",
) -> DataFrame:
    udf = make_zkey_udf(source_codes, n_tok_min, n_tok_max, curve)
    return df.withColumn(
        out_col, udf(F.xxhash64("doc_id"), F.col("n_tok"), F.col("source"))
    )


def make_zbin_udf(
    source_codes: dict[str, int],
    n_tok_min: int,
    n_tok_max: int,
    curve: str,
    boundaries: dict[str, list[list[int]]],
    offsets: dict[str, list[int]],
    n_shards: dict[str, int] | None = None,
):
    """Pandas UDF computing (zkey, bin) in ONE Arrow pass.

    ``bin`` is the output-file index: per (source, hash sub-shard), a
    vectorized ``np.searchsorted`` against the pre-sampled zkey quantile
    boundaries plus that shard's global bin offset. This replaces
    ``repartitionByRange``'s sampling pass — which re-evaluates the full
    child plan (token decode + key UDF) a second time — with an explicit
    assignment computed alongside the key itself. O(log bins) per row,
    fully vectorized.

    Sub-shards lift the quantile-resolution ceiling: a source whose bin
    budget exceeds what one ``percentile_approx`` can resolve is hash-split
    on ``pmod(xxhash64(doc_id), n_shards)`` (the same expression the
    boundary job groups on), and each shard carries its own boundary list —
    so the per-source bin count is unbounded while every sketch stays small.
    ``boundaries[s][i]`` / ``offsets[s][i]`` are shard *i* of source *s*; a
    source without sub-shards is its own single shard 0.
    """
    keys = _key_kernel(source_codes, n_tok_min, n_tok_max, curve)
    bnds = {
        s: [np.asarray(b, dtype=np.int64) for b in per_shard]
        for s, per_shard in boundaries.items()
    }
    offs = {s: list(o) for s, o in offsets.items()}
    shards = {s: int(n) for s, n in (n_shards or {}).items()}
    no_bounds = np.empty(0, dtype=np.int64)  # every row lands at the offset

    @F.pandas_udf("zkey bigint, bin int")
    def zbin(doc_hash: pd.Series, n_tok: pd.Series, source: pd.Series) -> pd.DataFrame:
        zk = keys(doc_hash, n_tok, source)
        src = source.to_numpy()
        h = doc_hash.to_numpy()
        bins = np.zeros(len(zk), dtype=np.int64)
        for s in pd.unique(source):
            m = src == s
            blist, olist = bnds.get(s) or [], offs.get(s) or [0]
            ns = shards.get(s, 1)
            sh = np.mod(h, np.int64(ns))  # the boundary job's _shard column
            for i in range(ns):
                mm = m & (sh == i)
                bd = blist[i] if i < len(blist) else no_bounds
                off = olist[i] if i < len(olist) else 0
                bins[mm] = off + np.searchsorted(bd, zk[mm], side="right")
        return pd.DataFrame({"zkey": zk, "bin": bins.astype(np.int32)})

    return zbin
