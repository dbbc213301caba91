"""Tests for round-3 pipeline additions: connected components, repetition
stats, and the watermarked streaming windowed aggregation."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from circus_train_spark.pipeline import dedup
from circus_train_spark.pipeline.dedup import connected_components
from circus_train_spark.pipeline.text import repetition_stats


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


class TestConnectedComponents:
    def test_chain_closes_transitively(self, spark):
        # 1-2, 2-3, 3-4: one component labelled by min id, no 1-4 edge.
        cc = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4)]))
        got = {r["id"]: r["component"] for r in cc.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_disjoint_components_stay_apart(self, spark):
        cc = connected_components(
            _edges(spark, [(1, 2), (10, 11), (11, 12), (20, 20)])
        )
        got = {r["id"]: r["component"] for r in cc.collect()}
        # Self-loop (20,20) is dropped; 20 never appears as a vertex.
        assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}

    def test_star_merge_via_hub(self, spark):
        # Two chains merged by a long-range cross edge.
        cc = connected_components(
            _edges(spark, [(1, 2), (5, 6), (2, 5), (100, 101)])
        )
        got = {r["id"]: r["component"] for r in cc.collect()}
        assert got[6] == 1 and got[5] == 1 and got[100] == 100

    def test_direction_irrelevant(self, spark):
        a = connected_components(_edges(spark, [(3, 1), (2, 3)]))
        got = {r["id"]: r["component"] for r in a.collect()}
        assert got == {1: 1, 2: 1, 3: 1}


class TestRepetitionStats:
    def test_counters_exact(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat the cat the dog"),
                (2, "all distinct words here"),
                (3, "x"),
                (4, "  "),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
        # doc 4 is whitespace-only -> filtered out.
        assert set(got) == {1, 2, 3}
        r1 = got[1]
        assert r1["n_words"] == 6 and r1["n_distinct_words"] == 3
        assert r1["top_word"] == "the" and r1["top_word_n"] == 3
        # 2-grams: "the cat","cat the","the cat","cat the","the dog"
        assert r1["n_2grams"] == 5 and r1["n_distinct_2grams"] == 3
        r2 = got[2]
        assert r2["n_words"] == 4 and r2["n_distinct_words"] == 4
        assert r2["n_2grams"] == 3 and r2["n_distinct_2grams"] == 3
        r3 = got[3]
        assert r3["n_words"] == 1 and r3["n_2grams"] == 0
        assert r3["n_distinct_2grams"] == 0

    def test_top_word_tie_breaks_deterministically(self, spark):
        df = spark.createDataFrame(
            [(1, "b a b a")], "doc_id long, text string"
        )
        row = repetition_stats(df).collect()[0]
        # counts tie at 2: max(struct(cnt, w)) picks the larger word "b".
        assert row["top_word"] == "b" and row["top_word_n"] == 2


class TestStreamingWindowed:
    def test_stream_equals_batch(self, spark):
        from circus_train_spark.streaming.windowed import windowed_counts_stream

        src = os.path.join(tempfile.mkdtemp(prefix="cts-stream-test-"), "ev")
        df = spark.createDataFrame(
            [
                (1, "click", "2024-01-01 10:05:00", 1.5),
                (2, "click", "2024-01-01 10:55:00", 2.5),
                (3, "view", "2024-01-01 10:10:00", 0.5),
                (4, "click", "2024-01-01 11:01:00", 4.0),
                # late event for the 10:00 window, arriving in a later file
                (5, "view", "2024-01-01 10:30:00", 1.0),
            ],
            "event_id long, event_type string, ts_s string, value double",
        ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
        df.write.mode("overwrite").parquet(src)

        res = windowed_counts_stream(
            spark,
            src,
            value_expr=F.round(F.col("value") * 100).cast("long"),
            max_files_per_trigger=1,
        )
        got = {
            (r["event_type"], str(r["window_start"])): (r["n"], r["value_sum"])
            for r in res.collect()
        }
        batch = {
            (r["event_type"], str(r["window_start"])): (r["n"], r["value_sum"])
            for r in spark.read.parquet(src)
            .groupBy("event_type", F.window("ts", "1 hour").alias("_w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_sum"
                ),
            )
            .select(
                "event_type", F.col("_w.start").alias("window_start"), "n", "value_sum"
            )
            .collect()
        }
        assert got == batch
        assert got[("click", "2024-01-01 10:00:00")] == (2, 400)


# (schema, edges, expected {id: component}) per graph: the driver path and
# the distributed path must both give exactly this
GRAPHS = {
    "chain": ("id_a long, id_b long", [(i, i + 1) for i in range(1, 101)],
              {i: 1 for i in range(1, 102)}),
    # the self-loop-only vertex 20 is absent
    "mixed": ("id_a long, id_b long",
              [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 20), (30, 31)],
              {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 30: 30, 31: 30}),
    "string": ("id_a string, id_b string",
               [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y")],
               {"doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
                "doc-x": "doc-x", "doc-y": "doc-x"}),
    # an edge with a NULL endpoint introduces neither of its vertices
    "null_endpoint": ("id_a long, id_b long",
                      [(1, 2), (2, None), (None, 7), (None, None), (5, 4)],
                      {1: 1, 2: 1, 4: 4, 5: 4}),
    "int": ("id_a int, id_b int", [(3, 2), (2, 1)], {1: 1, 2: 1, 3: 1}),
    "empty": ("id_a long, id_b long", [], {}),
}


def _count_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestStarComponents:
    """Alternating large-star/small-star: O(log^2 n) rounds, diameter-proof."""

    def test_hundred_hop_chain_converges(self, spark):
        # a 100-hop path has diameter 100: label propagation with the
        # default max_iter stalls, the star algorithm must close it
        edges = _edges(spark, [(i, i + 1) for i in range(1, 101)])
        cc = connected_components(edges, algorithm="star")
        got = {r["id"]: r["component"] for r in cc.collect()}
        assert got == {i: 1 for i in range(1, 102)}

    def test_auto_falls_back_on_deep_chain(self, spark, monkeypatch):
        # over the driver budget, auto runs label propagation first
        monkeypatch.setattr(dedup, "DRIVER_CC_THRESHOLD_EDGES", -1)
        edges = _edges(spark, [(i, i + 1) for i in range(1, 101)])
        cc = connected_components(edges, max_iter=3, algorithm="auto")
        got = {r["id"]: r["component"] for r in cc.collect()}
        assert got == {i: 1 for i in range(1, 102)}

    def test_star_matches_label_on_mixed_graph(self, spark):
        pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 20), (30, 31)]
        a = connected_components(_edges(spark, pairs), algorithm="label")
        b = connected_components(_edges(spark, pairs), algorithm="star")
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}

    def test_star_string_vertices(self, spark):
        df = spark.createDataFrame(
            [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y")],
            "id_a string, id_b string",
        )
        cc = connected_components(df, algorithm="star")
        got = {r["id"]: r["component"] for r in cc.collect()}
        assert got == {
            "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
            "doc-x": "doc-x", "doc-y": "doc-x",
        }


class TestDriverComponents:
    """Under the edge budget, ``auto`` closes the graph with a union-find on
    the driver; it must label exactly as the distributed paths do."""

    @pytest.mark.parametrize("graph", sorted(GRAPHS))
    def test_driver_matches_distributed(self, spark, monkeypatch, graph):
        schema, pairs, want = GRAPHS[graph]
        df = spark.createDataFrame(pairs, schema)
        driver = connected_components(df)
        star = connected_components(df, algorithm="star")
        # a budget below any edge count sends auto to label propagation
        monkeypatch.setattr(dedup, "DRIVER_CC_THRESHOLD_EDGES", -1)
        label = connected_components(df)
        for cc in (driver, label, star):
            assert {r["id"]: r["component"] for r in cc.collect()} == want
            assert cc.columns == ["id", "component"]
            assert [f.dataType for f in cc.schema] == [df.schema[0].dataType] * 2

    def test_star_on_non_nullable_ids(self, spark):
        # ids from spark.range are non-nullable; a Union of the star rounds'
        # two orientations then failed in Catalyst's constraint propagation
        edges = spark.range(1, 101).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        cc = connected_components(edges, algorithm="star")
        got = {r["id"]: r["component"] for r in cc.collect()}
        assert got == {i: 1 for i in range(1, 102)}

    def test_under_budget_graph_runs_at_most_three_jobs(self, spark):
        edges = _edges(spark, [(i, i + 1) for i in range(1, 101)])
        assert _count_jobs(spark, lambda: connected_components(edges)) <= 3


class TestRetrievalOps:
    def _docs(self, spark):
        rows = [
            (1, "spark merge fast merge merge", "en", "a", 28),
            (2, "vector scan stream", "en", "a", 18),
            (3, "the quick brown fox", "en", "b", 19),
            (4, "merge stream stream vector vector vector", "en", "b", 40),
            (5, "", "en", "b", 0),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    def test_bm25_matches_hand_computation(self, spark):
        import math

        from circus_train_spark.pipeline.text import bm25_score

        out = {
            r["doc_id"]: (r["n_hit_terms"], r["bm25"])
            for r in bm25_score(self._docs(spark), ["merge", "vector"]).collect()
        }
        # corpus: 4 docs with tokens, lens 5,3,4,6 -> N=4, avgdl=4.5
        # df(merge)=2, df(vector)=2 -> idf = ln((4-2+0.5)/(2+0.5)+1) = ln 2
        def s(tf, dl):
            return math.log(2.0) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 4.5))

        assert set(out) == {1, 2, 4}
        assert out[1] == (1, round(s(3, 5), 4))
        assert out[2] == (1, round(s(1, 3), 4))
        assert out[4] == (2, round(s(1, 6) + s(3, 6), 4))

    def test_bm25_empty_and_unmatched_docs_absent(self, spark):
        from circus_train_spark.pipeline.text import bm25_score

        out = bm25_score(self._docs(spark), ["zzz"]).collect()
        assert out == []

    def test_inverted_index_bounds_and_order(self, spark):
        from circus_train_spark.pipeline.text import inverted_index

        rows = {
            r["term"]: (r["df"], r["postings"])
            for r in inverted_index(self._docs(spark), min_df=2).collect()
        }
        # terms in >=2 docs: merge (1,4), vector (2,4), stream (2,4)
        assert rows == {
            "merge": (2, "1,4"),
            "vector": (2, "2,4"),
            "stream": (2, "2,4"),
        }
        capped = inverted_index(self._docs(spark), min_df=1, max_df=1).collect()
        assert all(r["df"] == 1 for r in capped)
        assert {"merge", "vector", "stream"}.isdisjoint(
            {r["term"] for r in capped}
        )


class TestRemoveBoilerplate:
    def test_recurring_paragraphs_stripped_everywhere(self, spark):
        from circus_train_spark.pipeline.dedup import remove_boilerplate

        footer = "subscribe to our newsletter"
        rows = [
            (1, f"unique alpha content\n\n{footer}"),
            (2, f"different beta body\n\n{footer}"),
            (3, "entirely standalone text"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_clean"])
            for r in remove_boilerplate(df, min_df=2).collect()
        }
        # the footer (df=2) vanishes from BOTH docs; unique paras survive
        assert out[1] == (2, 1, "unique alpha content")
        assert out[2] == (2, 1, "different beta body")
        assert out[3] == (1, 1, "entirely standalone text")

    def test_all_boilerplate_doc_reconstructs_empty(self, spark):
        from circus_train_spark.pipeline.dedup import remove_boilerplate

        rows = [(1, "same thing"), (2, "same thing"), (3, "same thing")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = remove_boilerplate(df, min_df=2).collect()
        assert all(r["n_kept"] == 0 and r["text_clean"] == "" for r in out)


class TestPlanShapes:
    """The retrieval/mixture operators must never degrade to nested-loop or
    cartesian physical plans — broadcast hash joins and scan-local
    predicates only (the 100-TB posture the modules document)."""

    def _docs(self, spark):
        from pyspark.sql import functions as F

        return spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("alpha beta gamma doc "), F.col("id")).alias("text"),
            F.lit("en").alias("lang"),
            (F.col("id") % 3).cast("string").alias("source"),
            F.lit(20).alias("n_chars"),
        )

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_bm25_plan(self, spark):
        from circus_train_spark.pipeline.text import bm25_score

        plan = self._plan(bm25_score(self._docs(spark), ["alpha", "beta"]))
        assert "CartesianProduct" not in plan
        # the ONLY nested-loop is the 1-row corpus-stats broadcast attach
        # (a constant join); every data-bearing join must be broadcast-hash
        assert plan.count("NestedLoop") <= 1
        assert "BroadcastNestedLoop" in plan or "NestedLoop" not in plan
        assert "BroadcastHashJoin" in plan

    def test_inverted_index_plan(self, spark):
        from circus_train_spark.pipeline.text import inverted_index

        plan = self._plan(inverted_index(self._docs(spark), min_df=2, max_df=50))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    def test_temperature_mixture_is_scan_local(self, spark):
        from circus_train_spark.pipeline.sampling import temperature_mixture

        plan = self._plan(temperature_mixture(self._docs(spark), alpha=0.5))
        # rates fold to literals driver-side: no join, no shuffle at all
        assert "Join" not in plan
        assert "Exchange" not in plan

    def test_remove_boilerplate_plan(self, spark):
        from circus_train_spark.pipeline.dedup import remove_boilerplate

        plan = self._plan(remove_boilerplate(self._docs(spark), min_df=2))
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


class TestStreamingSlidingWindow:
    def test_event_lands_in_window_over_slide_windows(self, spark):
        from circus_train_spark.streaming.windowed import windowed_counts_stream

        src = os.path.join(tempfile.mkdtemp(prefix="cts-slide-test-"), "ev")
        df = (
            spark.createDataFrame(
                [(1, "click", "2024-01-01 10:05:00", 1.0)],
                "event_id long, event_type string, ts_s string, value double",
            )
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .drop("ts_s")
        )
        df.write.mode("overwrite").parquet(src)
        res = windowed_counts_stream(
            spark, src, window="2 hours", slide="30 minutes"
        ).collect()
        # window/slide = 4 overlapping windows contain the single event
        starts = sorted(str(r["window_start"]) for r in res)
        assert len(starts) == 4
        assert starts == [
            "2024-01-01 08:30:00",
            "2024-01-01 09:00:00",
            "2024-01-01 09:30:00",
            "2024-01-01 10:00:00",
        ]
        assert all(r["n"] == 1 for r in res)


class TestFilterCorpus:
    def test_gates_compose(self, spark):
        from circus_train_spark.pipeline.text import filter_corpus

        good = (
            "the cat sat on the mat and it was a fine day for all of the "
            "animals in the warm garden near the old house by the river"
        )
        rows = [
            (1, good),                                   # passes all gates
            (2, "der hund ist nicht mit der katze und"), # German: lang gate
            (3, "spam spam spam spam spam and the it"),  # top-word gate
            (4, "x! y? z!!"),                            # quality gate
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kept = filter_corpus(
            df, min_quality=0.5, langs=("en",), max_top_word_frac=(3, 10)
        )
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert ids == [1]
        row = kept.collect()[0]
        assert row["lang_pred"] == "en" and row["quality"] >= 0.5

    def test_repetition_gate_optional(self, spark):
        from circus_train_spark.pipeline.text import filter_corpus

        df = spark.createDataFrame(
            [(3, "spam spam spam spam spam and the it was for a of to in is that")],
            "doc_id long, text string",
        )
        # without the repetition gate the doc passes (lang en, decent stats)
        no_rep = filter_corpus(df, min_quality=0.2, langs=("en",))
        assert [r["doc_id"] for r in no_rep.collect()] == [3]
        with_rep = filter_corpus(
            df, min_quality=0.2, langs=("en",), max_top_word_frac=(1, 10)
        )
        assert with_rep.collect() == []
