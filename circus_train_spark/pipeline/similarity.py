"""Similarity search over an embedding column (``array<float>``).

- **brute-force cosine top-k** — the exactness baseline: JVM-side dot
  product via ``F.zip_with`` + ``F.aggregate`` (no Python), full scan,
  ``ORDER BY sim DESC LIMIT k``. Correct at any scale, O(N·d) per query.
- **LSH-bucketed ANN** — the scale path: ``n_planes`` random hyperplanes
  (seeded, deterministic) give a sign bucket per vector; queries probe only
  their own bucket (optionally multi-probe neighbors at hamming distance 1),
  then rescore exactly. Index build is one narrow projection; probing reads
  ~N/2^n_planes vectors.
- **IVF-style variant** — coarse centroids picked deterministically from the
  data (every (N/k)-th vector by id), assignment = argmin cosine, probe the
  ``n_probe`` nearest lists. No KMeans dependency; same plumbing as a real
  IVF index.

Embedding near-duplicate detection (one hyperplane-sign bucket per vector)
and SemDeDup (one IVF list per vector) draw their candidate pairs from
``dedup._bucket_pairs``, the generator behind every near-dup strategy,
then verify by exact cosine ≥ threshold. Buckets or lists above the
caller's cap (``max_bucket`` / ``max_list``) produce no pairs. Both
materialize their small result (the verified pairs / the drop set) and
release the generator's checkpoint, which holds a copy of every vector.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from circus_train_spark.pipeline.dedup import _bucket_pairs, _release


def _lit_array(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity (brute force baseline)."""
    q = _lit_array(query)
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 8).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


# ----------------------------------------------------------------- LSH (ANN)


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).astype(np.float64)


def bucket_expr(vec_col: Column, planes: np.ndarray) -> Column:
    """Sign-bucket id: bit i = (vec · plane_i) > 0. Pure column algebra."""
    bits = []
    for i, p in enumerate(planes):
        d = dot(vec_col, F.array(*[F.lit(float(v)) for v in p]))
        bits.append(F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    planes = hyperplanes(dim, n_planes, seed)
    return embeddings.withColumn("bucket", bucket_expr(F.col(vec_col), planes))


def ann_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed approximate top-k: probe the query's bucket (+ hamming-1
    neighbors when ``multiprobe``), rescore exactly inside."""
    dim = len(query)
    planes = hyperplanes(dim, n_planes, seed)
    qv = np.asarray(query, dtype=np.float64)
    qbits = (planes @ qv) > 0
    qbucket = int(np.sum(1 << np.nonzero(qbits)[0])) if qbits.any() else 0
    probes = [qbucket]
    if multiprobe:
        probes += [qbucket ^ (1 << i) for i in range(n_planes)]
    indexed = with_lsh_bucket(embeddings, dim, n_planes, seed, vec_col)
    q = _lit_array(query)
    return (
        indexed.filter(F.col("bucket").isin(probes))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 8).alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-duplicate vector pairs: same LSH bucket AND cosine ≥ threshold."""
    first = embeddings.select(vec_col).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )
    planes = hyperplanes(len(first[0]), n_planes, seed)
    rows = embeddings.select(F.col(id_col), F.col(vec_col).alias("v"))
    pairs = (
        _bucket_pairs(rows, id_col, [bucket_expr(F.col("v"), planes)], max_bucket, carry=("v",))
        .select("id_a", "id_b", F.round(cosine(F.col("v_a"), F.col("v_b")), 8).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    verified = pairs.localCheckpoint(eager=True)
    _release(pairs)
    return verified


# ----------------------------------------------------------------- IVF-style


def sampled_centroids(
    embeddings: DataFrame,
    n_lists: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random centroid sample: the ``n_lists`` vectors
    with the smallest ``xxhash64(id)``. ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (map-side partial top-k per partition, driver
    merge) — no global single-partition window, no ``count()`` pre-pass, no
    full shuffle, at any table size."""
    cents = (
        embeddings.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("cent"))
        .orderBy(
            F.pmod(F.xxhash64(F.col("_cid").cast("string")), F.lit(1 << 31)), "_cid"
        )
        .limit(n_lists)
        .collect()
    )
    return [(i + 1, list(r["cent"])) for i, r in enumerate(cents)]


def kmeans_centroids(
    embeddings: DataFrame,
    n_lists: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd-trained IVF codebook, expressed as DataFrame aggregations.

    Init = the deterministic hash-stride sample (``sampled_centroids``);
    each bounded iteration is exactly TWO jobs:

    1. **assignment** — argmax cosine over the centroid literals (the same
       column-algebra cascade ``ivf_topk`` uses; no UDF, no crossJoin);
    2. **update** — ``posexplode`` the vectors to (list, dim_pos, val) and
       ``groupBy(list, dim_pos).avg`` — Spark's partial hash aggregation
       folds the N·d exploded rows to ≤ n_lists·d per task before the
       shuffle, so the exchange is codebook-sized, not data-sized. The
       n_lists × dim result is collected to the driver (the codebook is
       driver-sized by definition) and becomes the next round's literals.

    Assignment metric is cosine, update is the arithmetic mean — spherical
    k-means without the explicit re-normalization (argmax cosine is
    invariant to the centroid's norm, so skipping it changes nothing).
    Empty lists keep their previous centroid. Deterministic end-to-end:
    same data + same seed sample → same codebook at any parallelism.
    """
    cents = sampled_centroids(embeddings, n_lists, id_col, vec_col)
    for _ in range(max(0, iters)):
        assign = F.array(
            *[
                F.struct(
                    F.round(cosine(F.col(vec_col), _lit_array(c)), 8).alias("s"),
                    F.lit(lid).alias("lid"),
                )
                for lid, c in cents
            ]
        )
        rows = (
            embeddings.withColumn("list_id", F.array_max(assign)["lid"])
            .select("list_id", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("list_id", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in rows:
            by_list.setdefault(r["list_id"], {})[r["pos"]] = r["m"]
        cents = [
            (
                lid,
                [by_list[lid][p] for p in sorted(by_list[lid])]
                if lid in by_list
                else old,
            )
            for lid, old in cents
        ]
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-flat ANN. Coarse centroids default to a hash-stride sample
    (``sampled_centroids``); pass ``centroids`` explicitly for a caller-
    chosen codebook (e.g. KMeans-trained offline, or an arithmetic pick an
    external oracle can reproduce)."""
    if centroids is None:
        centroids = sampled_centroids(embeddings, n_lists, id_col, vec_col)
    qv = np.asarray(query, dtype=np.float64)

    def cos_np(c):
        c = np.asarray(c, dtype=np.float64)
        return float(c @ qv / (np.linalg.norm(c) * np.linalg.norm(qv) + 1e-12))

    # probe order rounds to 8 dp with list_id tiebreak — reproducible across
    # engines (matches the SQL oracle's ORDER BY round(cos, 8) DESC, list_id)
    probe_ids = [
        lid
        for lid, _ in sorted(
            centroids, key=lambda t: (-round(cos_np(t[1]), 8), t[0])
        )[:n_probe]
    ]
    # assignment: argmax cosine over centroid literals (column algebra)
    assign = F.array(
        *[
            F.struct(
                F.round(cosine(F.col(vec_col), _lit_array(c)), 8).alias("s"),
                F.lit(lid).alias("lid"),
            )
            for lid, c in centroids
        ]
    )
    assigned = embeddings.withColumn("list_id", F.array_max(assign)["lid"])
    q = _lit_array(query)
    return (
        assigned.filter(F.col("list_id").isin(probe_ids))
        .select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 8).alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    list_col: str | None = None,
    max_list: int = 50_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    each vector to its nearest coarse centroid (the IVF list, exactly the
    ``ivf_topk`` assignment — round-8 cosine, higher-list-id tiebreak),
    compare vectors only WITHIN a list by exact cosine, and drop every
    vector that pairs at >= ``threshold`` with a lower-id list-mate (the
    deterministic keep-lowest-id election). Returns the surviving rows
    with their original columns (plus the assignment under ``list_col``
    when requested).

    Scale posture: the quadratic step is per-list, so the codebook size is
    the knob — n_lists ∝ N / target_list_size keeps each list's pair count
    bounded; lists above ``max_list`` vectors are passed through unpaired
    (never exploded), the same guardrail as ``embedding_near_dup_pairs``.
    The centroid codebook is driver-sized by construction (same contract
    as ``ivf_topk``/``kmeans_centroids``)."""
    if centroids is None:
        centroids = sampled_centroids(embeddings, n_lists, id_col, vec_col)
    assign = F.array(
        *[
            F.struct(
                F.round(cosine(F.col(vec_col), _lit_array(c)), 8).alias("s"),
                F.lit(lid).alias("lid"),
            )
            for lid, c in centroids
        ]
    )
    assigned = embeddings.withColumn("_sd_list", F.array_max(assign)["lid"])
    rows = assigned.select(F.col(id_col), F.col(vec_col).alias("v"), "_sd_list")
    pairs = _bucket_pairs(rows, id_col, [F.col("_sd_list")], max_list, carry=("v",))
    drops = (
        pairs.filter(F.round(cosine(F.col("v_a"), F.col("v_b")), 8) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    _release(pairs)
    kept = assigned.join(drops, id_col, "left_anti")
    if list_col:
        return kept.withColumnRenamed("_sd_list", list_col)
    return kept.drop("_sd_list")
