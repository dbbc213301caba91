"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-conscious:

- **exact** — hash-groupBy on normalized text, keep min(doc_id). One shuffle
  on a 64-bit hash, never on the text itself.
- **MinHash + LSH** — word-shingle set → k minhashes (JVM-side:
  ``array_min`` over ``transform``-hashed shingles, no UDF) → band buckets →
  candidate pairs only within buckets → exact Jaccard verification on the
  candidates.
- **SimHash** — 64-bit sign-aggregated fingerprint (numpy bit unpack in an
  Arrow pandas UDF over JVM-prehashed token arrays); near-dups = equal
  fingerprints on rotated bands (hamming ≤ r by pigeonhole).
- **n-gram Jaccard** — exact pairwise similarity on LSH candidates.
- **embedding cosine** — near-duplicate pairs above a cosine threshold via
  random-hyperplane LSH bucketing + in-bucket verification
  (see ``similarity.py`` for the primitives).

Every bucketed strategy — MinHash-LSH and SimHash here, embedding near-dup
and SemDeDup in ``similarity.py`` — draws its candidates from one
generator, ``_bucket_pairs``: rows are bucketed once per band, a
``(band, bucket)`` holding more than ``max_bucket`` rows produces no pairs
(boilerplate/empty-doc clusters), and the rest self-join on
``(band, bucket)`` with ``a.id < b.id`` — an equi-join, never a cartesian
product. MinHash-LSH caps its 64-bit band buckets at ``MAX_BUCKET`` (1000)
rows. SimHash caps whole fingerprints at ``MAX_BUCKET`` instead, because
its 16-bit slice buckets fill from ordinary traffic at scale.

Near-dup pairs are edges; ``connected_components`` closes them into
clusters labelled by their minimum id. An edge list of up to
``DRIVER_CC_THRESHOLD_EDGES`` rows costs one collect and a union-find on
the driver; a larger one runs min-label propagation on Spark, restarting
with large-star/small-star on a graph too deep for it.

At 100 TB: every strategy shuffles fixed-width signatures (8–256 bytes/row),
not documents.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------- exact


def normalized_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one representative (min doc_id) per identical normalized text."""
    h = F.xxhash64(normalized_text(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy("doc_id")
    return (
        documents.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def exact_dup_groups(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(hash, n_dups, keeper) for every text appearing more than once."""
    h = F.xxhash64(normalized_text(F.col(text_col)))
    return (
        documents.withColumn("_h", h)
        .groupBy(F.col("_h").alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


# ----------------------------------------------------------- paragraph-level
#
# Whole-document dedup (exact / MinHash / SimHash above) misses repeated
# SPANS — boilerplate paragraphs, headers, license blocks — that recur
# across otherwise-distinct documents. Standard training-data hygiene is
# paragraph-hash dedup: keep each distinct paragraph's first occurrence
# (by document order) and drop every later copy, reconstructing the
# cleaned documents. Reference analogue: none (circus-train never looks
# inside rows); this is the engine's LLM-pipeline surface.


def paragraph_array(
    text: Column, sep_regex: str = r"\n{2,}", segment_words: int | None = None
) -> Column:
    """``array<string>`` of normalized paragraphs, built JVM-side.

    Default: split on blank lines (``sep_regex``), each paragraph
    whitespace-normalized. ``segment_words=k`` switches to fixed k-word
    windows over the normalized text — span-level dedup for corpora without
    paragraph markers."""
    if segment_words is not None:
        k = segment_words

        def windows(words: Column) -> Column:
            n_seg = F.floor((F.size(words) + (k - 1)) / k).cast("int")
            return F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(F.slice(words, i * k + 1, k), " "),
            )

        # A lambda gets no subexpression elimination: one that sliced the
        # ``split`` expression would re-split the whole text per window.
        # Binding the word array to the variable of a one-element transform
        # splits it once per row.
        words = F.split(normalized_text(text), " ")
        return F.element_at(F.transform(F.array(words), windows), 1)
    parts = F.split(text, sep_regex)
    return F.filter(
        F.transform(parts, lambda p: F.regexp_replace(F.lower(F.trim(p)), r"\s+", " ")),
        lambda p: p != "",
    )


def _rebuild(
    documents: DataFrame, keep_lists: DataFrame, paras: Column, id_col: str, joiner: str
) -> DataFrame:
    """``documents`` plus ``n_paras``, ``n_kept`` and ``text_clean``: the
    paragraphs at the indexes of ``keep_lists._keep`` (none for a document
    without a keep-list), joined in order.

    ``paras`` is projected as a column of its own after the join: the
    rebuild lambda picks from that column, where picking from the
    expression would re-split and re-normalise every paragraph of the
    document for each one kept (a lambda gets no subexpression
    elimination). CollapseProject keeps the projection, because the column
    is non-cheap and referenced twice."""
    out = (
        documents.join(keep_lists, documents[id_col] == keep_lists["_id"], "left")
        .drop("_id")
        .withColumn("_paras", paras)
    )
    kept = F.coalesce(F.col("_keep"), F.array().cast("array<int>"))
    return out.select(
        *documents.columns,
        F.size("_paras").alias("n_paras"),
        F.size(kept).alias("n_kept"),
        F.concat_ws(
            joiner, F.transform(kept, lambda i: F.element_at(F.col("_paras"), i + 1))
        ).alias("text_clean"),
    )


def paragraph_dedup(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
    segment_words: int | None = None,
    joiner: str = " ",
) -> DataFrame:
    """Corpus-wide paragraph dedup: each distinct normalized paragraph keeps
    ONLY its first occurrence (ordered by ``(id_col, position)``); cleaned
    documents are reconstructed from their surviving paragraphs in original
    order. Returns the input columns plus ``n_paras``, ``n_kept``,
    ``text_clean`` (may be empty when every paragraph was seen earlier).

    Scale plan (100 TB): paragraph text never shuffles. The winner
    election shuffles ``(xxhash64(para), id, idx)`` — 8-byte hash keys —
    through one groupBy-min; the keep-lists (one int array per document)
    shuffle once more to group per doc; the single wide-row movement is the
    final ``documents ⋈ keep_lists`` hash join on the table key (on a real
    table both sides are co-partitioned/bucketed by ``id_col``, making it
    shuffle-free). Paragraphs are re-derived scan-side for reconstruction
    rather than carried through the shuffles. 64-bit hash equality stands
    in for string equality (same posture as ``exact_dedup``)."""
    paras = paragraph_array(F.col(text_col), sep_regex, segment_words)
    exploded = documents.select(
        F.col(id_col).alias("_id"), F.posexplode(paras).alias("_idx", "_p")
    ).select("_id", "_idx", F.xxhash64("_p").alias("_h"))
    winners = (
        exploded.groupBy("_h")
        .agg(F.min(F.struct("_id", "_idx")).alias("w"))
        .select(F.col("w._id").alias("_id"), F.col("w._idx").alias("_idx"))
    )
    keep_lists = winners.groupBy("_id").agg(
        F.array_sort(F.collect_list("_idx")).alias("_keep")
    )
    return _rebuild(documents, keep_lists, paras, id_col, joiner)


def remove_boilerplate(
    documents: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
    segment_words: int | None = None,
    joiner: str = " ",
) -> DataFrame:
    """Strip paragraphs that recur across ``min_df``+ distinct documents
    from EVERY document (headers, footers, cookie banners, nav chrome —
    the public boilerplate-removal posture). Unlike ``paragraph_dedup``
    (which keeps each paragraph's first occurrence), boilerplate is
    removed everywhere. Returns the input columns plus ``n_paras``,
    ``n_kept``, ``text_clean``.

    Scale plan: identical to ``paragraph_dedup`` — paragraph text never
    shuffles. The df count moves ``(hash, doc)`` 8-byte pairs through a
    distinct + groupBy-count (map-side combined); the keep-lists join back
    on the table key; paragraphs re-derive scan-side for reconstruction.
    """
    paras = paragraph_array(F.col(text_col), sep_regex, segment_words)
    exploded = documents.select(
        F.col(id_col).alias("_id"), F.posexplode(paras).alias("_idx", "_p")
    ).select("_id", "_idx", F.xxhash64("_p").alias("_h"))
    boiler = (
        exploded.select("_h", "_id")
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_h")
    )
    keep_lists = (
        exploded.join(boiler, "_h", "left_anti")
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list("_idx")).alias("_keep"))
    )
    return _rebuild(documents, keep_lists, paras, id_col, joiner)


# ------------------------------------------------------------ bucket pairs

MAX_BUCKET = 1000  # default bucket cap of the text near-dup strategies


def _bucket_pairs(
    rows: DataFrame,
    id_col: str,
    buckets: list[Column],
    max_bucket: int | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs of rows that share a bucket: the one in-bucket
    self-join behind every near-dup strategy here and in ``similarity``.

    ``buckets`` holds one bucket expression per band (all of one type). A
    pair ``(id_a, id_b)`` with ``id_a < id_b`` is emitted when both rows
    share a ``(band, bucket)`` holding at most ``max_bucket`` rows (any
    size when ``None``); rows of an oversized bucket produce no pairs. A
    pair colliding in several bands is emitted once per band, so callers
    ``distinct`` what they keep. Each ``carry`` column comes out as
    ``<carry>_a`` and ``<carry>_b``.

    The capped bucket rows are materialized once (eager
    ``localCheckpoint``): the bucket expressions and anything upstream of
    them (signature, fingerprint UDF) run once per row rather than once
    per join side. The returned (lazy) pairs read that checkpoint;
    ``_release`` frees it once what the caller keeps is materialized.
    """
    banded = rows.select(
        F.col(id_col).alias("_id"),
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), e.alias("bucket"))
                    for b, e in enumerate(buckets)
                ]
            )
        ).alias("_bb"),
    ).select("_id", *carry, "_bb.band", "_bb.bucket")
    if max_bucket is not None:
        banded = (
            banded.withColumn("_n", F.count("*").over(Window.partitionBy("band", "bucket")))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    sized = banded.localCheckpoint(eager=True)
    a, b = sized.alias("a"), sized.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    )


def _release(pairs: DataFrame) -> None:
    """Unpersist the checkpoint behind ``pairs``, a frame derived from
    ``_bucket_pairs`` output alone (so every RDD leaf of its plan is that
    checkpoint). Call it only once everything kept from ``pairs`` is
    materialized."""
    leaves = pairs._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        if leaves.apply(i).nodeName() == "LogicalRDD":
            leaves.apply(i).rdd().unpersist(False)


# ------------------------------------------------------------------- minhash


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of word n-gram shingles (distinct), built JVM-side.

    The n-grams come from ``arrays_zip`` of the ``n`` shifted word slices,
    and the lambda joins the fields of its element alone. A lambda gets no
    subexpression elimination, so one that sliced the ``split`` expression
    would re-split the whole text once per shingle."""
    words = F.split(normalized_text(text), " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.transform(
        F.arrays_zip(*[F.slice(words, j + 1, k) for j in range(n)]),
        lambda z: F.concat_ws(" ", *[z[str(j)] for j in range(n)]),
    )
    # short docs: fall back to the whole text as one shingle
    return F.when(k > 0, F.array_distinct(grams)).otherwise(
        F.array(normalized_text(text))
    )


def _hash_family(i: int):
    """Unary lambda hashing a shingle under family seed ``i``.

    MUST stay a single-parameter lambda: a two-parameter lambda (e.g. the
    ``lambda s, i=i`` closure idiom) is treated by ``F.transform`` as the
    binary ``(element, index)`` form, silently binding the second name to
    the array position — every family would hash with the element's index
    as its seed and the signature degenerates to one hash function.
    """
    return lambda s: F.xxhash64(s, F.lit(i))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Array of ``num_hashes`` minhash values — pure JVM: each hash family is
    xxhash64(shingle, seed_i), minimum over the shingle set."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _hash_family(i)))
            for i in range(num_hashes)
        ]
    )


def with_minhash(
    documents: DataFrame, text_col: str = "text", num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    # The shingles get a projection of their own that every hash family
    # reads: CollapseProject does not inline a non-cheap expression referenced
    # more than once, so each row builds its shingle set once, not once per
    # family.
    return (
        documents.withColumn("_sh", word_shingles(F.col(text_col), shingle_n))
        .withColumn("minhash", minhash_signature(F.col("_sh"), num_hashes))
        .drop("_sh")
    )


def lsh_candidate_pairs(
    with_sig: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Band the signature, bucket-join, emit candidate (a, b) pairs once.

    rows_per_band = num_hashes // bands; a pair collides when all rows of any
    band match — the classic (r, b) S-curve. Buckets larger than
    ``max_bucket`` produce no pairs (boilerplate/empty-doc clusters), which
    bounds the in-bucket quadratic join.

    The signature cache is released before returning. The returned pairs
    are lazy and hold ``_bucket_pairs``' checkpoint of the banded rows
    (``bands`` × N ``(id, band, bucket)`` rows), the one persisted RDD a
    bare call leaves behind; ``minhash_dedup`` releases it.
    """
    r = num_hashes // bands
    # Materialize (id, minhash) BEFORE banding: the band/bucket expressions
    # reference ``minhash[i]`` num_hashes times, and Catalyst's project
    # collapse inlines the full 32-family signature expression into every
    # reference (codegen subexpression elimination does not span the
    # struct-array construction) — measured 6× blowup at sf0.1. The cache
    # stores 8 B × num_hashes per doc and cuts the signature to exactly
    # one evaluation per row; it is no longer read once the banded rows
    # are checkpointed.
    with_sig = with_sig.select(id_col, "minhash").persist()
    buckets = [
        F.xxhash64(F.concat_ws(",", *[F.col("minhash")[b * r + j] for j in range(r)]))
        for b in range(bands)
    ]
    pairs = _bucket_pairs(with_sig, id_col, buckets, max_bucket).distinct()
    with_sig.unpersist()
    return pairs


def jaccard_pairs(
    documents: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage)."""
    sh = documents.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    )
    j = (
        pairs.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    )


def minhash_dedup(
    documents: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end near-dup removal: LSH candidates → Jaccard ≥ threshold →
    drop the higher doc_id of each matched pair (greedy union toward min)."""
    # The signature stage (num_hashes transforms over the shingle array)
    # runs with whatever parallelism the source scan gives. Few-large-files
    # inputs (or a small unioned test corpus) arrive in a handful of splits
    # and would compute the signature on that many cores — spread them
    # first. The probe is the DataFrame's backing file list (public API, no
    # RDD conversion on the hot path); at real scale maxPartitionBytes
    # already yields >= defaultParallelism splits and the repartition never
    # fires (no shuffle).
    sc = documents.sparkSession.sparkContext
    n_files = len(documents.inputFiles())
    if 0 < n_files < sc.defaultParallelism:
        documents = documents.repartition(sc.defaultParallelism)
    sig = with_minhash(documents, text_col, num_hashes, shingle_n)
    cands = lsh_candidate_pairs(sig, num_hashes, bands)
    dups = (
        jaccard_pairs(documents, cands, text_col, shingle_n)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        # eager-materialize the (small) drop set so the bucket checkpoint
        # can be released before this function returns
        .localCheckpoint(eager=True)
    )
    _release(cands)
    return documents.join(dups, "doc_id", "left_anti")


# ------------------------------------------------------------------- simhash


def simhash_prehash(text: Column) -> Column:
    """JVM-side per-word hashes (array<long>) feeding the numpy stage."""
    words = F.split(normalized_text(text), " ")
    return F.transform(words, lambda w: F.xxhash64(w))


def simhash_udf():
    @F.pandas_udf(T.LongType())
    def simhash(hashes: pd.Series) -> pd.Series:
        # fully vectorized across the Arrow batch: one flat bit matrix +
        # reduceat over row offsets (no per-row Python loop)
        lens = hashes.apply(len).to_numpy(dtype=np.int64)
        out = np.zeros(len(hashes), dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in hashes[nonempty]]
            ).astype(np.uint64)
            bit_idx = np.arange(64, dtype=np.uint64)
            bits = ((flat[:, None] >> bit_idx) & np.uint64(1)).astype(np.int64)
            ne_lens = lens[nonempty]
            offsets = np.concatenate(([0], np.cumsum(ne_lens)[:-1]))
            counts = np.add.reduceat(bits, offsets, axis=0)
            fp = (counts * 2 >= ne_lens[:, None]).astype(np.uint64)
            vals = np.bitwise_or.reduce(fp << bit_idx, axis=1).astype(np.int64)
            out[nonempty] = vals
        return pd.Series(out)

    return simhash


def with_simhash(documents: DataFrame, text_col: str = "text") -> DataFrame:
    sh = simhash_udf()
    return documents.withColumn("simhash", sh(simhash_prehash(F.col(text_col))))


def simhash_dup_pairs(with_fp: DataFrame, id_col: str = "doc_id", bands: int = 4) -> DataFrame:
    """Pairs with hamming distance < bands: by pigeonhole, at least one of
    ``bands`` 16-bit slices is identical — bucket-join on slices, verify with
    JVM-side bit_count(xor) < bands.

    Rows whose whole fingerprint is shared by more than ``MAX_BUCKET`` rows
    (empty or boilerplate texts: every empty text fingerprints to 0)
    produce no pairs. The slice buckets themselves are not capped: at N
    rows a slice bucket holds about N / 2^(64 // bands) rows from ordinary
    traffic alone (≈ 1000 at 65M rows with 4 bands), and dropping those
    buckets would silently lose genuine near-duplicates. The price is that
    the candidate join grows as N² / 2^(64 // bands) per band — billions of
    candidate pairs past ~10^7 rows at 4 bands, where MinHash-LSH is the
    strategy to use. The returned pairs are lazy and hold the checkpoint of
    the sliced rows (``bands`` × N rows)."""
    # only (id, fingerprint) travel through the window's shuffle
    rows = with_fp.select(id_col, "simhash")
    rows = rows.withColumn("_n", F.count("*").over(Window.partitionBy("simhash")))
    rows = rows.filter(F.col("_n") <= MAX_BUCKET)
    width = 64 // bands
    mask = (1 << width) - 1
    buckets = [
        F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    return (
        _bucket_pairs(rows, id_col, buckets, None, carry=("simhash",))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") < bands)
        .distinct()
    )


# ------------------------------------------------- connected components
#
# Near-dup pairs from any of the strategies above are EDGES; dedup keeps
# one representative per connected component, not per pair (A~B, B~C must
# collapse A,B,C together even when A~C was never emitted). The graph is
# small next to the corpus, one edge per verified pair, so an edge list of
# up to DRIVER_CC_THRESHOLD_EDGES rows is collected once and closed by a
# union-find on the driver; only a larger one runs on Spark, as min-label
# propagation with a large-star/small-star restart for deep chains.
# Reference analogue: none (circus-train diffs partitions, it does not
# dedup rows) — this is part of the engine's LLM-pipeline surface.

# Edge lists up to this many rows are closed on the driver. At 10^6 long
# edges on a 4-core host the driver path takes about 4 s (union-find at
# ~5*10^5 edges/s) and peaks at about 200 MiB of driver Python heap.
DRIVER_CC_THRESHOLD_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components over an undirected edge list → (id, component).

    Every vertex is labelled with the minimum id of its component; ``id``
    and ``component`` have the type of the ``src`` column. Self-loops and
    edges with a NULL endpoint carry no connectivity and do not introduce
    their vertices.

    ``algorithm``:

    - ``"auto"`` (default) — up to ``DRIVER_CC_THRESHOLD_EDGES`` edges, ONE
      Spark job collects them (``limit(budget + 1)`` as Arrow) and a
      union-find closes them on the driver, with path halving and the
      smaller root winning a union, so each root is its component's
      minimum; the labels come back through ``createDataFrame`` under an
      explicit schema. Above the budget: label propagation, and if
      ``max_iter`` rounds pass without a fixpoint, a restart with the star
      algorithm instead of partial labels.
    - ``"label"`` — iterative min-label propagation on Spark: each round
      every vertex adopts the minimum label among itself and its
      neighbours. Rounds = graph diameter; near-dup clusters are shallow
      (stars/cliques), so 3-5 rounds in practice.
    - ``"star"`` — alternating large-star/small-star on Spark (Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC'14):
      O(log² n) rounds regardless of diameter — the path for adversarial
      chain-shaped graphs.

    Scale notes (100 TB): the driver path is bounded by the budget, so its
    driver memory is too; larger graphs stay on Spark. There every round of
    either algorithm is hash joins + groupBy-min over fixed-width (vertex,
    vertex) rows — never payload — and ``localCheckpoint`` cuts the lineage
    so plans don't grow per round. The label-prop convergence probe is a
    LIMIT-1 existence check (AQE stops at the first changed row).
    """
    if algorithm not in ("label", "star", "auto"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    real = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    real = real.filter(F.col("a") != F.col("b"))
    if algorithm == "auto":
        head = real.limit(DRIVER_CC_THRESHOLD_EDGES + 1).toArrow()
        if head.num_rows <= DRIVER_CC_THRESHOLD_EDGES:
            return _driver_components(edges.sparkSession, head, edges.schema[src].dataType)
    if algorithm == "star":
        return _star_components(real)
    sym = _both_ways(real, F.col("a"), F.col("b"), F.col("b"), F.col("a")).persist()
    labels = (
        sym.select(F.col("a").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        prop = sym.join(
            labels.withColumnRenamed("id", "a"), "a"
        ).select(F.col("b").alias("id"), "component")
        new = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged and algorithm == "auto":
        # diameter > max_iter (chain-shaped graph): the O(log² n) path
        return _star_components(real)
    return labels


def _driver_components(spark, head: pa.Table, id_type: T.DataType) -> DataFrame:
    """Union-find over the collected (a, b) edges → (id, component)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(head["a"].to_numpy().tolist(), head["b"].to_numpy().tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    typ = head.schema.field("a").type
    ids = list(parent)
    labels = pa.table(
        {"id": pa.array(ids, typ), "component": pa.array([find(v) for v in ids], typ)}
    )
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )
    return spark.createDataFrame(labels, schema)


def _star_components(real: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Alternating large-star/small-star CC over (a, b) edges without
    self-loops or NULLs → (id, component).

    Both operations keep one invariant: every edge connects two vertices
    of the same component, and each round strictly lowers the pointer
    structure toward stars rooted at component minima.

    - **large-star**: per vertex u, attach every neighbour v > u to
      m = min(Γ(u) ∪ {u}).
    - **small-star**: per vertex u over its smaller neighbours, attach
      them (and u) to the minimum.

    Each is ONE groupBy-min + ONE hash join over (vertex, vertex) rows.
    Converges in O(log² n) rounds to the star graph (v → component-min),
    independent of graph diameter. The convergence probe is a
    count+hash-sum signature (one agg job; a signature collision would only
    cost one extra no-op round, never wrong labels, because the edge map is
    already a fixpoint once it stops changing).
    """
    verts = (
        real.select(F.explode(F.array("a", "b")).alias("id"))
        .distinct()
        .localCheckpoint()
    )
    # canonical orientation: a = hi, b = lo
    e = (
        real.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_rounds):
        # large-star: symmetric view, neighbours above u re-point to min
        sym = _both_ways(e, F.col("a"), F.col("b"), F.col("b"), F.col("a"))
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select("a", F.least("a", "mn").alias("m"))
        ls = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        e = ls.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()
        # small-star: smaller neighbourhoods (and u itself) re-point to min
        mins = e.groupBy("a").agg(F.min("b").alias("m"))
        joined = e.join(mins, "a")
        ss = _both_ways(
            joined, F.greatest("b", "m"), F.least("b", "m"), F.col("a"), F.col("m")
        )
        e = ss.filter(F.col("a") != F.col("b")).distinct().localCheckpoint()
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: e is the star map (vertex -> component min); roots and
    # isolated vertices label themselves
    parents = e.groupBy("a").agg(F.min("b").alias("component"))
    return verts.join(
        parents.withColumnRenamed("a", "id"), "id", "left"
    ).select("id", F.coalesce("component", F.col("id")).alias("component"))


def _both_ways(df: DataFrame, a1: Column, b1: Column, a2: Column, b2: Column) -> DataFrame:
    """Rows (a1, b1) and (a2, b2) of every row of ``df``, as (a, b). An
    array of two structs, not a Union: Catalyst's constraint propagation
    over a Union whose branches differ in nullability fails with ``key not
    found`` (Spark 4.1, ids from ``spark.range``)."""
    pair = F.array(
        F.struct(a1.alias("a"), b1.alias("b")), F.struct(a2.alias("a"), b2.alias("b"))
    )
    return df.select(F.inline(pair))
