"""Training-data pipeline ops over the driver-provided documents/embeddings."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from circus_train_spark.pipeline import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def embs(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    e.count()
    return e


# ------------------------------------------------------------------- text
def test_analyze_schema_and_sanity(docs):
    out = text.analyze(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows[:50]:
        assert r["ws_tokens"] >= 0 and r["bpe_tokens"] >= r["ws_tokens"] * 0
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["quality"] <= 1.0
        assert r["lang_pred"] in ("en", "de", "fr", "es", "und")


def test_token_counts_known_values(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! This is a test."), (2, ""), (3, "   "), (4, "one")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            text.ws_token_count(F.col("text")).alias("ws"),
            text.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert got[1] == (6, 9)  # Hello , world ! This is a test .
    assert got[2] == (0, 0) and got[3] == (0, 0) and got[4] == (1, 1)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    fps = [r[0] for r in df.select(text.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1] != fps[2]


# ------------------------------------------------------------------ dedup
def test_exact_dedup_removes_planted_dups(spark, docs):
    planted = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(planted)
    out = dedup.exact_dedup(both)
    assert out.count() == both.count() - 5
    # keeper is the min doc_id
    groups = dedup.exact_dup_groups(both).collect()
    assert all(g["keeper"] < 1_000_000 for g in groups)


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    # plant near-duplicates: copy 5 docs with one appended word
    near = (
        docs.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    both = docs.unionByName(near).filter(F.length("text") > 50)
    n_before = both.count()
    out = dedup.minhash_dedup(both, threshold=0.5, num_hashes=32, bands=16)
    n_after = out.count()
    planted_alive = out.filter(F.col("doc_id") >= 2_000_000).count()
    assert planted_alive == 0  # all planted near-dups caught
    assert n_after <= n_before - 5


def test_jaccard_exact_on_known_pair(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    j = dedup.jaccard_pairs(df, pairs, shingle_n=3).collect()[0]
    # shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter 2, union 4
    assert abs(j["jaccard"] - 0.5) < 1e-9


SHINGLE_TEXTS = [
    "",
    "   ",
    "one",
    "one two",
    "a b c a b c a b c",  # repeated n-grams
    "tab\tand\nnewline  and\n\nblank line",
    "Mixed CASE words mixed case WORDS",
]


def _py_shingles(text: str, n: int) -> set[str]:
    """The shingle rule in plain Python: lower-cased, whitespace-collapsed
    words; every word n-gram, or the whole text when it has fewer words."""
    words = " ".join(text.lower().strip().split()).split(" ")
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def test_word_shingles_match_python_rule(spark):
    df = spark.createDataFrame(list(enumerate(SHINGLE_TEXTS)), "doc_id long, text string")
    for n in (2, 3):
        got = dict(df.select("doc_id", dedup.word_shingles(F.col("text"), n)).collect())
        for i, t in enumerate(SHINGLE_TEXTS):
            assert len(got[i]) == len(set(got[i])) and set(got[i]) == _py_shingles(t, n), (t, n)


def test_with_minhash_equals_signature_of_materialised_shingles(spark, docs):
    """``with_minhash`` gives the signature of the materialised shingles and
    builds each row's shingle array once: its optimized plan holds as many
    ``split(`` at 8 hash families as at 32."""
    df = spark.createDataFrame(
        [(10**9 + i, t) for i, t in enumerate(SHINGLE_TEXTS)], "doc_id long, text string"
    ).unionByName(docs.select("doc_id", "text").limit(50))
    shingles = df.select("doc_id", dedup.word_shingles(F.col("text")).alias("sh")).collect()
    want = dict(
        spark.createDataFrame(shingles, "doc_id long, sh array<string>")
        .select("doc_id", dedup.minhash_signature(F.col("sh"), 8))
        .collect()
    )
    assert dict(dedup.with_minhash(df, num_hashes=8).select("doc_id", "minhash").collect()) == want

    def splits(num_hashes):
        sig = dedup.with_minhash(df, num_hashes=num_hashes)
        return sig._jdf.queryExecution().optimizedPlan().toString().count("split(")

    assert splits(8) == splits(32)


def test_simhash_near_dup_pairs(spark, docs):
    near = (
        docs.limit(3)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    both = docs.filter(F.length("text") > 100).unionByName(near)
    fp = dedup.with_simhash(both)
    pairs = dedup.simhash_dup_pairs(fp, bands=4).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = {r["doc_id"] for r in near.select("doc_id").collect()}
    hits = sum(1 for a, b in found if b in planted or a in planted)
    assert hits >= 2  # simhash catches most of the planted pairs
    assert all(p["hamming"] < 4 for p in pairs)


def test_simhash_identical_texts_equal_fp(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    fps = [r["simhash"] for r in dedup.with_simhash(df).collect()]
    assert fps[0] == fps[1]


# -------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(embs):
    rows = embs.collect()
    q = list(rows[0]["embedding"])
    got = similarity.cosine_topk(embs, q, k=5).collect()
    qv = np.array(q)
    sims = sorted(
        (
            (
                float(
                    np.dot(r["embedding"], qv)
                    / (np.linalg.norm(r["embedding"]) * np.linalg.norm(qv))
                ),
                r["vec_id"],
            )
            for r in rows
        ),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert [g["vec_id"] for g in got] == [s[1] for s in sims]
    assert got[0]["vec_id"] == rows[0]["vec_id"]  # self is most similar
    for g, s in zip(got, sims):
        assert abs(g["sim"] - s[0]) < 1e-6


def test_ann_topk_finds_planted_neighbors(spark, embs):
    """The testdata embeddings are near-random (top cosine ≈ 0.33, median 0)
    so *no* ANN index can have high recall there; the meaningful contract is
    recall on genuinely-close vectors. Plant 5 near-copies of the query
    (cosine ≈ 0.999) and require the LSH probe to return all of them."""
    first = embs.first()
    q = list(first["embedding"])
    rng = np.random.RandomState(7)
    planted = [
        (10_000 + i, [float(v + 0.01 * rng.randn()) for v in q], 99)
        for i in range(5)
    ]
    both = embs.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<float>, label int")
    )
    got = similarity.ann_topk(both, q, k=6, n_planes=8, multiprobe=True)
    ids = {r["vec_id"] for r in got.collect()}
    assert {10_000 + i for i in range(5)} <= ids
    assert first["vec_id"] in ids


def test_ivf_topk_returns_k_and_contains_self(embs):
    first = embs.first()
    q = list(first["embedding"])
    got = similarity.ivf_topk(embs, q, k=5, n_lists=8, n_probe=4).collect()
    assert len(got) == 5
    assert got[0]["vec_id"] == first["vec_id"]


def test_embedding_near_dup_pairs_planted(spark, embs):
    twin = embs.limit(3).withColumn("vec_id", F.col("vec_id") + 10_000)
    both = embs.unionByName(twin)
    pairs = similarity.embedding_near_dup_pairs(both, threshold=0.999, n_planes=6)
    got = {(p["id_a"], p["id_b"]) for p in pairs.collect()}
    expected = {(r["vec_id"], r["vec_id"] + 10_000) for r in embs.limit(3).collect()}
    assert expected <= got
    # candidate generation is a bucket equi-join, never all-pairs
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_semantic_dedup_drops_planted_twins(spark, embs):
    """SemDeDup election: each planted twin (cosine 1.0 with its original,
    so same nearest centroid) is dropped; every original survives."""
    twin = embs.limit(5).withColumn("vec_id", F.col("vec_id") + 10_000)
    both = embs.unionByName(twin)
    kept = similarity.semantic_dedup(both, threshold=0.999, n_lists=4)
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    originals = {r["vec_id"] for r in embs.select("vec_id").collect()}
    assert ids == originals  # twins (higher ids) gone, originals intact
    assert set(kept.columns) == set(both.columns)  # schema passthrough
    # within-list pairing is a list-id equi-join, never all-pairs
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


# -------------------------------------------------------------- multimodal
def test_multimodal_feature_extraction(spark):
    media = multimodal.generate_fake_media(spark, n=30)
    out = multimodal.extract_features(media).collect()
    assert len(out) == 30
    for r in out:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-3  # histogram sums to 1
        assert r["n_bytes"] > 0
    # determinism
    out2 = multimodal.extract_features(multimodal.generate_fake_media(spark, n=30)).collect()
    assert {r["media_id"]: r["content_hash"] for r in out} == {
        r["media_id"]: r["content_hash"] for r in out2
    }


def test_multimodal_frame_plan_and_library_decoder(spark):
    media = multimodal.generate_fake_media(spark, n=9)
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert rows and all(r["frame_ts_ms"] % 1000 == 0 for r in rows)
    # optional-import decoder: never raises — decodes via PIL/soundfile when
    # importable, else falls back to the deterministic fake (same shape)
    dec = multimodal.LibraryDecoder(feature_dim=16)
    for kind in ("image", "audio", "video"):
        out = dec.decode(b"not really media bytes", kind)
        assert out.shape == (16,) and out.dtype == np.float32
    # undecodable payloads equal the fake decoder's output (fallback path)
    fake = multimodal.DeterministicFakeDecoder(16)
    assert (dec.decode(b"xyz", "image") == fake.decode(b"xyz", "image")).all()
    # extract_features accepts the library decoder end-to-end
    got = multimodal.extract_features(media, decoder=dec).collect()
    assert len(got) == 9 and all(len(r["features"]) == 16 for r in got)


# ------------------------------------------------------- pii / sampling
def test_scrub_pii_redacts_all_categories(spark):
    from circus_train_spark.pipeline.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [("a", "mail me at jo.doe+x@corp.example.org or 555-123-4567, "
               "ssn 123-45-6789, host 192.168.0.1 ok")],
        "id string, t string",
    )
    row = df.select(
        scrub_pii(F.col("t")).alias("s"),
        *[c.alias(k) for k, c in pii_counts(F.col("t")).items()],
    ).collect()[0]
    assert row["email"] == 1 and row["ssn"] == 1
    assert row["phone"] == 1 and row["ipv4"] == 1
    s = row["s"]
    assert "<EMAIL>" in s and "<SSN>" in s and "<PHONE>" in s and "<IP>" in s
    for leak in ("jo.doe", "555-123-4567", "123-45-6789", "192.168.0.1"):
        assert leak not in s


def test_deterministic_sample_is_stable_and_proportional(spark):
    from circus_train_spark.pipeline.sampling import (
        deterministic_sample,
        sample_mixture,
    )

    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
    )
    s1 = deterministic_sample(df, 0.3).select("doc_id").collect()
    s2 = deterministic_sample(df, 0.3).select("doc_id").collect()
    assert {r["doc_id"] for r in s1} == {r["doc_id"] for r in s2}  # reproducible
    assert abs(len(s1) / 20000 - 0.3) < 0.02
    # nesting: a higher-rate sample contains the lower-rate one (same salt)
    s5 = {r["doc_id"] for r in deterministic_sample(df, 0.5).select("doc_id").collect()}
    assert {r["doc_id"] for r in s1} <= s5
    # different salt decorrelates
    s_salt = {
        r["doc_id"]
        for r in deterministic_sample(df, 0.3, salt=7).select("doc_id").collect()
    }
    assert s_salt != {r["doc_id"] for r in s1}

    mix = sample_mixture(df, {"a": 0.1, "b": 0.9})
    got = {r["source"]: r["n"] for r in mix.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["a"] / 10000 - 0.1) < 0.02
    assert abs(got["b"] / 10000 - 0.9) < 0.02
    # unlisted sources default to rate 0
    assert sample_mixture(df, {"a": 0.5}).filter("source = 'b'").count() == 0


def test_paragraph_dedup_keeps_first_occurrence(spark):
    from circus_train_spark.pipeline.dedup import paragraph_dedup

    boiler = "all rights reserved contact us for details"
    rows = [
        (1, f"alpha beta gamma\n\n{boiler}"),
        (2, f"{boiler}\n\ndelta epsilon zeta"),   # boiler already seen in doc 1
        (3, f"{boiler}\n\n{boiler}"),             # intra-doc repeat too
        (4, "unique paragraph here"),
        (5, ""),                                  # empty document
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (2, 2)  # first sees both
    assert out[1]["text_clean"] == f"alpha beta gamma {boiler}"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["text_clean"] == "delta epsilon zeta"
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (2, 0)  # all copies dropped
    assert out[3]["text_clean"] == ""
    assert out[4]["n_kept"] == 1
    assert (out[5]["n_paras"], out[5]["n_kept"]) == (0, 0)


def test_paragraph_dedup_word_windows(spark):
    from circus_train_spark.pipeline.dedup import paragraph_dedup

    # doc 2 repeats doc 1's exact text -> every 3-word window is a dup;
    # doc 3 shares only its first window with doc 1
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),
        (3, "a b c x y z"),
        (4, "P q r s t u v"),  # a short last window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, segment_words=3).collect()
    }
    assert (out[1]["n_paras"], out[1]["n_kept"], out[1]["text_clean"]) == (2, 2, "a b c d e f")
    assert (out[2]["n_kept"], out[2]["text_clean"]) == (0, "")
    assert (out[3]["n_kept"], out[3]["text_clean"]) == (1, "x y z")
    assert (out[4]["n_paras"], out[4]["n_kept"], out[4]["text_clean"]) == (3, 3, "p q r s t u v")


def test_kmeans_centroids_improve_ivf_recall(spark):
    """Lloyd-trained codebook vs the hash-stride sample on a corpus of four
    well-separated clusters: with n_probe=1 the trained centroids must
    align with the true clusters and beat (or tie) the sample's recall@k
    against the brute-force ground truth."""
    import numpy as np

    from circus_train_spark.pipeline.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
        sampled_centroids,
    )

    rng = np.random.RandomState(7)
    centers = np.eye(4, 8) * 10.0  # 4 orthogonal cluster centers in R^8
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(60):
            v = centers[c] + rng.randn(8) * 0.5
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    query = [float(x) for x in centers[2] + rng.randn(8) * 0.3]

    truth = {r["vec_id"] for r in cosine_topk(df, query, k=10).collect()}

    def recall(centroids):
        got = {
            r["vec_id"]
            for r in ivf_topk(
                df, query, k=10, n_probe=1, centroids=centroids
            ).collect()
        }
        return len(got & truth) / len(truth)

    trained = kmeans_centroids(df, n_lists=4, iters=3)
    sampled = sampled_centroids(df, n_lists=4)
    r_trained, r_sampled = recall(trained), recall(sampled)
    assert r_trained >= r_sampled
    assert r_trained >= 0.9  # aligned codebook finds the cluster
    # determinism: same data -> identical codebook
    again = kmeans_centroids(df, n_lists=4, iters=3)
    assert again == trained
    df.unpersist()


class TestTemperatureMixture:
    def test_rates_formula(self):
        from circus_train_spark.pipeline.sampling import temperature_rates

        rates = temperature_rates({"web": 900, "wiki": 100, "code": 400})
        assert rates["wiki"] == 1.0  # rarest source keeps everything
        assert abs(rates["web"] - (100 / 900) ** 0.5) < 1e-12
        assert abs(rates["code"] - 0.5) < 1e-12
        # alpha=1: proportional (no resampling)
        assert all(
            v == 1.0
            for v in temperature_rates({"a": 10, "b": 90}, alpha=1.0).values()
        )
        # alpha=0: equalize to the rarest count
        r0 = temperature_rates({"a": 10, "b": 90}, alpha=0.0)
        assert r0["a"] == 1.0 and abs(r0["b"] - 10 / 90) < 1e-12

    def test_mixture_flattens_sources(self, spark):
        from pyspark.sql import functions as F

        from circus_train_spark.pipeline.sampling import temperature_mixture

        df = (
            spark.range(0, 2000)
            .select(
                F.col("id").alias("doc_id"),
                F.when(F.col("id") % 20 == 0, "rare").otherwise("common").alias(
                    "source"
                ),
            )
        )
        kept = temperature_mixture(df, alpha=0.5)
        by = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        assert by["rare"] == 100  # rate 1.0: all 100 rare rows kept
        # common: rate sqrt(100/1900) ~ 0.2294 of 1900 ~ 436 expected
        assert 300 < by["common"] < 560
        # deterministic: re-running yields the identical keep-set
        again = temperature_mixture(df, alpha=0.5)
        assert kept.subtract(again).count() == 0
        assert again.subtract(kept).count() == 0


def test_lsh_candidate_pairs_releases_caches_by_default(spark, docs):
    """A bare lsh_candidate_pairs call must not leak persisted partitions:
    it releases its signature cache once the bucket rows are checkpointed,
    leaving at most that checkpoint behind the returned pairs."""
    sc = spark.sparkContext
    sig = dedup.with_minhash(docs.limit(200))
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=32, bands=16)
    pairs.count()
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert len(after - before) <= 1


def test_bucket_pairs_cap_is_inclusive(spark):
    """A bucket of exactly max_bucket rows yields each of its C(n,2) pairs
    once; one row more and the bucket yields none. The pairing is an
    equi-join on the bucket, never a cartesian product."""
    rows = spark.createDataFrame(
        [(i, "full") for i in range(4)] + [(10 + i, "over") for i in range(5)],
        "id long, k string",
    )
    pairs = dedup._bucket_pairs(rows, "id", [F.col("k")], max_bucket=4)
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == [(a, b) for a in range(4) for b in range(a + 1, 4)]
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_bucket_pairs_multi_band_and_carry(spark):
    """A pair colliding in every band is emitted once per band, once after
    distinct; carried columns come out as <col>_a / <col>_b."""
    rows = spark.createDataFrame(
        [(1, 7, 8, "x"), (2, 7, 8, "y"), (3, 7, 9, "z")],
        "id long, b0 long, b1 long, tag string",
    )
    pairs = dedup._bucket_pairs(
        rows, "id", [F.col("b0"), F.col("b1")], max_bucket=10, carry=("tag",)
    )
    assert pairs.columns == ["id_a", "id_b", "tag_a", "tag_b"]
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == [(1, 2, "x", "y"), (1, 2, "x", "y"), (1, 3, "x", "z"), (2, 3, "y", "z")]
    assert sorted(tuple(r) for r in pairs.distinct().collect()) == sorted(set(got))


def test_simhash_dup_pairs_drops_over_cap_bucket(spark, monkeypatch):
    """A fingerprint shared by more than MAX_BUCKET rows (the empty-text
    case) pairs with nobody, while distinct fingerprints still pair when
    every slice they share is crowded past MAX_BUCKET: the cap is on whole
    fingerprints, not on slice buckets."""
    monkeypatch.setattr(dedup, "MAX_BUCKET", 3)
    zeros = [(i, 0) for i in range(4)]
    # all share slices 0, 2 and 3 (all zero bits); only slice 1 differs
    crowd = [(100 + i, i << 16) for i in (1, 2, 3, 4, 100, 101)]
    df = spark.createDataFrame(zeros + crowd, "doc_id long, simhash long")
    got = sorted(tuple(r) for r in dedup.simhash_dup_pairs(df, bands=4).collect())
    want = sorted(
        (a, b, bin(fa ^ fb).count("1"))
        for a, fa in crowd
        for b, fb in crowd
        if a < b and bin(fa ^ fb).count("1") < 4
    )
    assert got == want and (200, 201, 1) in got


def test_dedup_operators_release_bucket_checkpoint(spark, docs, embs):
    """minhash_dedup, embedding_near_dup_pairs and semantic_dedup return a
    plan over their materialized drop set / verified pairs, so a later
    action re-runs no bucket join, and they leave at most that one
    checkpoint persisted: the generator's, which holds every signature or
    vector, is released."""
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    for run, joins in (
        (lambda: dedup.minhash_dedup(docs.limit(200), threshold=0.5, bands=16), 1),
        (lambda: similarity.embedding_near_dup_pairs(embs, threshold=0.9, n_planes=4), 0),
        (lambda: similarity.semantic_dedup(embs, threshold=0.9, n_lists=4), 1),
    ):
        before = persisted()
        out = run()
        assert len(persisted() - before) <= 1
        assert out._jdf.queryExecution().optimizedPlan().toString().count("Join ") == joins


def test_epoch_shuffle_deterministic_and_bijective(spark, docs):
    """(shard, pos) depends only on (doc_id, seed): identical across
    re-layouts, positions are a 0..n-1 bijection within each shard, and a
    different seed yields a genuinely different order."""
    from circus_train_spark.pipeline.sampling import epoch_shuffle

    base = docs.limit(400)
    a = epoch_shuffle(base, seed=42, n_shards=4).select("doc_id", "shard", "pos")
    b = epoch_shuffle(base.repartition(13), seed=42, n_shards=4).select(
        "doc_id", "shard", "pos"
    )
    rows_a = {(r["doc_id"], r["shard"], r["pos"]) for r in a.collect()}
    rows_b = {(r["doc_id"], r["shard"], r["pos"]) for r in b.collect()}
    assert rows_a == rows_b  # layout-independent
    by_shard: dict[int, list[int]] = {}
    for _, s, p in rows_a:
        by_shard.setdefault(s, []).append(p)
    assert sum(len(v) for v in by_shard.values()) == 400
    for ps in by_shard.values():
        assert sorted(ps) == list(range(len(ps)))  # dense 0..n-1 per shard
    other = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in epoch_shuffle(base, seed=7, n_shards=4).collect()
    }
    assert other != rows_a  # a new seed is a new order


def test_curriculum_sample_buckets_and_rates(spark, docs):
    """Quantile buckets are score-ordered, per-bucket keep rates are
    roughly honored, and the keep-set is layout-independent."""
    from circus_train_spark.pipeline.sampling import curriculum_sample
    from circus_train_spark.pipeline.text import quality_score

    d = docs.withColumn("q", F.round(quality_score(F.col("text")), 6))
    kept = curriculum_sample(d, "q", [0.0, 0.25, 1.0], bucket_col="b")
    rows = kept.select("doc_id", "b", "q").collect()
    by_bucket: dict[int, list[float]] = {}
    for r in rows:
        by_bucket.setdefault(r["b"], []).append(r["q"])
    assert 0 not in by_bucket  # rate 0.0: lowest tercile fully dropped
    if 1 in by_bucket and 2 in by_bucket:
        assert max(by_bucket[1]) <= min(by_bucket[2])  # score-ordered buckets
    n = d.count()
    assert len(by_bucket.get(2, [])) == pytest.approx(n / 3, rel=0.35)
    assert len(by_bucket.get(1, [])) <= n / 3 * 0.45  # ~25% of a tercile
    # layout-independence
    again = curriculum_sample(d.repartition(17), "q", [0.0, 0.25, 1.0], bucket_col="b")
    assert {(r["doc_id"], r["b"]) for r in again.select("doc_id", "b").collect()} == {
        (r["doc_id"], r["b"]) for r in rows
    }


def test_chunk_text_reconstruction_and_edges(spark):
    """Non-overlapping chunks concatenate back to the original text;
    overlapping chunks share exactly window-stride characters; short and
    empty documents emit exactly one chunk."""
    from circus_train_spark.pipeline.text import chunk_text

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, "")],
        "doc_id long, text string",
    )
    # stride == window: exact partition, lossless reconstruction
    rows = chunk_text(df, window=4).orderBy("doc_id", "chunk_idx").collect()
    by_doc: dict[int, list[str]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    assert "".join(by_doc[1]) == "abcdefghij" and len(by_doc[1]) == 3
    assert by_doc[2] == ["xy"] and by_doc[3] == [""]
    # overlap: consecutive chunks share window - stride characters
    ov = chunk_text(df.filter("doc_id = 1"), window=4, stride=2).orderBy(
        "chunk_idx"
    ).collect()
    chunks = [r["chunk"] for r in ov]
    assert chunks == ["abcd", "cdef", "efgh", "ghij"]
    for a, b in zip(chunks, chunks[1:]):
        assert a[2:] == b[:2]
