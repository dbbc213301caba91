"""The benchmark workloads: ``maintain`` and ``dedup``.

Each workload generates its inputs from the seed in ``setup`` (before any
timer), runs one closed-loop round of engine calls in ``round``, and checks
the outputs of every round in ``check`` after the timer has stopped. Engine
modules are called through their module objects, so a ``Tracer`` can wrap
the public functions in place.

Why these two: ``maintain`` spends its time in ``operators`` and
``meta.catalog`` (the write path, then planning, pruning, decode and the
merge-on-read anti-join for its readers) and none in ``pipeline``; ``dedup``
spends all of it in ``pipeline.dedup`` and none in ``meta`` or
``operators``. A change to one side is exercised by one workload and
bypassed by the other.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import circus_train_spark.meta.catalog as catalog_mod
import circus_train_spark.operators.cluster as cluster_mod
import circus_train_spark.operators.compact as compact_mod
import circus_train_spark.operators.delete as delete_mod
import circus_train_spark.operators.expire as expire_mod
import circus_train_spark.operators.manifest_rewrite as manifest_rewrite_mod
import circus_train_spark.operators.merge as merge_mod
import circus_train_spark.pipeline.dedup as dedup_mod
from circus_train_spark.functions.digest import table_digest
from circus_train_spark.sources.generator import SOURCES, generate_changes, generate_tokens

# Input sizes. A round's time should grow with its input rather than be all
# per-call overhead, and a run should take about a minute, of which session
# start and the cold warm-up take about 40 s. Measured on 4 cores with 18
# reader queries per cycle, a maintenance round cost about 13 s plus 0.55 s
# per 1000 rows (14 s at 1000 rows, 26 s at 24000), so at ROWS about a fifth
# of it grows with the rows. A dedup round cost 9.5 s at 250 docs, 21 s at
# 1000 and 35 s at 3000, so at DOCS about two thirds of it grows with the
# docs. The warm-up runs the same calls on an input WARMUP_DIVISOR times
# smaller: what it warms (class loading, code generation, the JIT, the
# Python workers) does not depend on the size.
ROWS = 6000
FILES = 32  # files the append writes: many more than cores, as in a fragmented table
COMPACT_TARGET = 8 << 20
CLUSTER_TARGET = 4 << 20
DOCS = 800
WARMUP_DIVISOR = 8
HASH_COLS = ("doc_id", "tokens", "n_tok", "source")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


def _force(df) -> tuple[int, int]:
    """(row count, bit_xor of the row hash over every column)."""
    r = (
        df.select(F.xxhash64(*HASH_COLS).alias("_qh"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_qh)").alias("x"))
        .collect()[0]
    )
    return r["n"], r["x"] or 0


class Workload:
    """Set up from a seed, run rounds, check them. Subclasses fill in."""

    name = ""
    size = 0  # input size the rounds are timed at: rows or docs

    def __init__(self, spark, work_dir: str, seed: int, tracer, cores: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.cores = cores
        self.results: list = []  # one entry per timed operation, checked later
        self.call_s: list[float] = []  # latencies behind query_p50_s/query_p90_s
        self.counts: dict[str, float] = {}  # per-layer counts, summed over traced rounds
        self.input_bytes = 1
        self.written = 0
        self.n_round = 0

    def _timed(self, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.call_s.append(time.perf_counter() - t0)
        return out

    def _count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def setup(self, attempt, n: int) -> None:
        """Generate the inputs of size ``n`` and the expected answers."""
        raise NotImplementedError

    def warmup(self) -> None:
        """Set up from an input WARMUP_DIVISOR times smaller and run one
        round on it, discarding both, so class loading, code generation, the
        JIT and the Python worker pool are warm before the set-ups are
        timed and the rounds are."""
        self.setup("warmup", self.size // WARMUP_DIVISOR)
        self.round()
        self.after_round(False)
        self.results.clear()
        self.call_s.clear()
        self.written = 0
        self.n_round = 0

    def round(self) -> None:
        raise NotImplementedError

    def after_round(self, traced: bool) -> None:
        """Untimed work after each round: keep what ``check`` needs, clean
        up, and (for a traced round) add the round's per-layer counts."""

    def check(self) -> int:
        """Number of failed operations among ``results``."""
        raise NotImplementedError

    def bytes_written(self) -> float:
        """Bytes one round committed or wrote as output, on average."""
        return self.written / max(1, self.n_round)

    def traced_counts(self) -> dict[str, float]:
        """Counts computed once after the timer."""
        return {}


# --------------------------------------------------------------- maintain
DELETE_PREDICATE = "pmod(xxhash64(doc_id), 97) = 0"
# Reader queries per cycle: two of each kind, every round and every seed the
# same mix. Partition scans hit the three largest
# sources; range scans select a tenth of the rows at a seeded position.
QUERY_KINDS = ("full", "partition", "n_tok", "doc_id", "pinned", "digest")
QUERIES_PER_KIND = 2


class Maintain(Workload):
    """One maintenance cycle on a fresh table per round, then training
    readers on the result:

    append(num_files >> cores) -> compact -> cluster -> merge_into ->
    expire_snapshots + rewrite_manifests -> table_digest(fast=False) ->
    delete_where(mode="mor") -> reader queries, each forcing every column:
    full, per-source partition, n_tok range, doc_id range, doc_id range
    pinned to the pre-delete snapshot, and table_digest(fast=True).

    Input and change set are parquet written in set-up. Expected answers
    come from plain DataFrame operations over them."""

    name = "maintain"
    size = ROWS

    def setup(self, attempt, n: int) -> None:
        d = os.path.join(self.work, f"input-{attempt}")
        generate_tokens(self.spark, n, seed=self.seed, partitions=self.cores).write.parquet(
            os.path.join(d, "tokens")
        )
        generate_changes(self.spark, n, seed=self.seed).write.parquet(os.path.join(d, "changes"))
        self.input_bytes = _dir_bytes(os.path.join(d, "tokens"))
        self.tokens = self.spark.read.parquet(os.path.join(d, "tokens"))
        self.changes = self.spark.read.parquet(os.path.join(d, "changes"))
        cols = list(HASH_COLS)
        merged = self.tokens.join(self.changes.select("doc_id"), "doc_id", "left_anti").unionByName(
            self.changes.filter(F.col("_op") == "upsert").select(*cols)
        )
        self.expected = table_digest(merged)
        rows = merged.select(
            "doc_id", "n_tok", "source",
            F.xxhash64(*HASH_COLS).alias("h"),
            F.expr(DELETE_PREDICATE).alias("deleted"),
        ).collect()
        self.doc_id = np.array([r["doc_id"] for r in rows])
        self.n_tok = np.array([r["n_tok"] for r in rows], dtype=np.int64)
        self.source = np.array([r["source"] for r in rows])
        self.h = np.array([r["h"] for r in rows], dtype=np.int64)
        self.live = ~np.array([r["deleted"] for r in rows], dtype=bool)
        self.queries = self._make_queries(random.Random(self.seed))

    def _make_queries(self, rng: random.Random) -> list[tuple]:
        n = len(self.h)
        n_tok = np.sort(self.n_tok)
        doc_id = np.sort(self.doc_id)
        out = []
        kinds = QUERY_KINDS * QUERIES_PER_KIND
        for i, kind in enumerate(kinds):
            lo = rng.randrange(n - n // 10)
            hi = lo + n // 10 - 1
            if kind == "partition":
                out.append((kind, SOURCES[kinds[:i].count("partition")]))
            elif kind == "n_tok":
                out.append((kind, (int(n_tok[lo]), int(n_tok[hi]))))
            elif kind in ("doc_id", "pinned"):
                out.append((kind, (str(doc_id[lo]), str(doc_id[hi]))))
            else:
                out.append((kind, None))
        return out

    def _expected(self, q: tuple) -> tuple[int, int]:
        kind, arg = q
        mask = np.ones(len(self.h), dtype=bool) if kind == "pinned" else self.live.copy()
        if kind == "partition":
            mask &= self.source == arg
        elif kind == "n_tok":
            mask &= (self.n_tok >= arg[0]) & (self.n_tok <= arg[1])
        elif kind in ("doc_id", "pinned"):
            mask &= (self.doc_id >= arg[0]) & (self.doc_id <= arg[1])
        sel = self.h[mask]
        return int(mask.sum()), int(np.bitwise_xor.reduce(sel)) if len(sel) else 0

    def _query(self, table, pinned: int, q: tuple) -> tuple[int, int]:
        kind, arg = q
        if kind == "digest":
            d = table.table_digest(fast=True)
            return d["n_rows"], d["xor_digest"] or 0
        with self.tracer.span("catalog.scan"):
            if kind == "full":
                df = table.scan()
            elif kind == "partition":
                df = table.scan(partitions=[arg])
            elif kind == "n_tok":
                df = table.scan(n_tok_range=arg).filter(F.col("n_tok").between(*arg))
            elif kind == "doc_id":
                df = table.scan(doc_id_range=arg).filter(F.col("doc_id").between(*arg))
            else:
                df = table.scan(snapshot_id=pinned, doc_id_range=arg).filter(
                    F.col("doc_id").between(*arg)
                )
            return _force(df)

    def round(self) -> None:
        self.n_round += 1
        table = catalog_mod.TokenTable.create(
            self.spark, os.path.join(self.work, f"table-{self.n_round}")
        )
        written = []
        table.on_commit(lambda snap: written.append(int(snap.summary.get("added_bytes", 0))))
        table.append(self.tokens, num_files=FILES)
        comp = compact_mod.compact(
            table, target_file_bytes=COMPACT_TARGET, max_concurrency=self.cores, verify=False
        )
        clus = cluster_mod.cluster(table, target_file_bytes=CLUSTER_TARGET, verify=False)
        merged = merge_mod.merge_into(table, self.changes, verify=False)
        expire_mod.expire_snapshots(table, keep_last=1)
        manifest_rewrite_mod.rewrite_manifests(table, target_manifests=1)
        full = table.table_digest(fast=False)
        pinned = table.current_snapshot().snapshot_id
        delete_mod.delete_where(table, DELETE_PREDICATE, mode="mor", verify=False)
        answers = [(q, self._timed(self._query, table, pinned, q)) for q in self.queries]
        self.results.append(("cycle", full, table, pinned, comp, clus, merged, written))
        self.results.extend(answers)

    def after_round(self, traced: bool) -> None:
        i = max(i for i, r in enumerate(self.results) if r[0] == "cycle")
        _, full, table, pinned, comp, clus, merged, written = self.results[i]
        fast = table.table_digest(snapshot_id=pinned, fast=True)
        pending = bool(table.delete_entries())
        self.written += sum(written)
        if traced:
            self._count("compact.files_in", comp.files_in)
            self._count("compact.files_out", comp.files_out)
            self._count("compact.bytes_rewritten", comp.bytes_in)
            self._count("cluster.bytes_rewritten", clus.bytes_in)
            self._count("merge.files_touched", merged.files_touched)
            rows_out = sum(
                e["n_rows"]
                for e in table.manifest_entries(pinned)
                if e["added_snapshot_id"] == merged.snapshot_id
            )
            changed = merged.inserted + merged.updated + merged.deleted
            self._count("merge.rows_rewritten_per_row_changed", rows_out / max(1, changed))
            for q, _ in self.results[i + 1 :]:
                self._plan_counts(table, pinned, q)
        self.results[i] = ("cycle", full, fast, pending)
        table.drop()

    def _plan_counts(self, table, pinned: int, q: tuple) -> None:
        kind, arg = q
        if kind == "digest":
            return
        snap = pinned if kind == "pinned" else None
        live = table.manifest_entries(snap)
        kw = {
            "partition": {"partitions": [arg]},
            "n_tok": {"n_tok_range": arg},
            "doc_id": {"doc_id_range": arg},
            "pinned": {"doc_id_range": arg},
        }.get(kind, {})
        planned = set(table.file_paths(snap, **kw))
        self._count("catalog.scan.queries", 1)
        self._count("catalog.scan.files_planned", len(planned))
        self._count("catalog.scan.files_live", len(live))
        self._count("catalog.scan.rows_read", sum(e["n_rows"] for e in live if e["file_path"] in planned))
        self._count("catalog.scan.rows_returned", self._expected(q)[0])

    def check(self) -> int:
        """A cycle fails unless its full digest equals the expected one, the
        fast digest equals the full one and the delete is pending; a query
        fails unless its (count, xor) equals the expected answer."""
        failed = 0
        for r in self.results:
            if r[0] == "cycle":
                _, full, fast, pending = r
                failed += not (full == self.expected and fast == full and pending)
            else:
                failed += r[1] != self._expected(r[0])
        return failed


# ------------------------------------------------------------------ dedup
SHINGLE_N = 3
NUM_HASHES = 16
BANDS = 4
THRESHOLD = 0.8
MAX_BUCKET = 1000  # lsh_candidate_pairs' default bucket cap


def make_corpus(seed: int, n_docs: int) -> tuple[list[tuple[str, str]], set[str]]:
    """Zipf-vocabulary documents with planted exact duplicates (case and
    whitespace variants, so normalisation matters) and one-word-edit
    near-duplicates. Returns (rows, ids of the planted exact duplicates)."""
    rng = np.random.default_rng(seed)
    vocab_n = 5000
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({
        "".join(rng.choice(letters, size=rng.integers(3, 10))) for _ in range(vocab_n)
    })
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_base = n_docs - n_exact - n_near
    base: list[list[str]] = []
    seen: set[str] = set()
    while len(base) < n_base:
        words = [vocab[i] for i in rng.choice(len(vocab), size=rng.integers(40, 100), p=p)]
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            base.append(words)
    rows = [(f"d{i:07d}", " ".join(w)) for i, w in enumerate(base)]
    planted: set[str] = set()
    for k in range(n_exact):
        words = list(base[rng.integers(n_base)])
        words[0] = words[0].upper()
        doc_id = f"d{n_base + k:07d}"
        planted.add(doc_id)
        rows.append((doc_id, "  " + "  ".join(words) + " "))
    for k in range(n_near):
        words = list(base[rng.integers(n_base)])
        j = rng.integers(len(words))
        words[j] = vocab[(vocab.index(words[j]) + 1 + rng.integers(len(vocab) - 1)) % len(vocab)]
        text = " ".join(words)
        if text in seen:  # an edit that lands on another base text is an exact dup
            continue
        rows.append((f"d{n_base + n_exact + k:07d}", text))
    order = rng.permutation(len(rows))
    return [rows[i] for i in order], planted


def _jaccard(x: str, y: str) -> float:
    """Word 3-shingle Jaccard, as ``jaccard_pairs`` defines it."""
    sx, sy = _shingles(x), _shingles(y)
    return len(sx & sy) / max(1, len(sx | sy))


def _shingles(text: str) -> set[str]:
    words = " ".join(text.lower().strip().split()).split(" ")
    if len(words) < SHINGLE_N:
        return {" ".join(words)}
    return {" ".join(words[i : i + SHINGLE_N]) for i in range(len(words) - SHINGLE_N + 1)}


class Dedup(Workload):
    """exact_dedup -> minhash_dedup -> with_simhash + simhash_dup_pairs ->
    connected_components over a generated corpus. The output is the corpus
    with each document's fate (``exact``, ``minhash``, ``simhash`` or
    kept) written to parquet."""

    name = "dedup"
    size = DOCS

    def setup(self, attempt, n: int) -> None:
        import pandas as pd

        rows, self.planted = make_corpus(self.seed, n)
        d = os.path.join(self.work, f"corpus-{attempt}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path, index=False)
        self.input_bytes = os.path.getsize(path)
        self.text = dict(rows)
        self.docs = self.spark.read.parquet(d)

    def _stage(self, name: str, build):
        """Run one pipeline stage and materialise its output (cached). The
        stage latencies are the samples behind query_p50_s/query_p90_s."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            df = build().cache()
            df.count()
            self.call_s.append(time.perf_counter() - t0)
        self.cached.append(df)
        return df

    def round(self) -> None:
        self.n_round += 1
        self.cached = []
        exact = self._stage("dedup.exact", lambda: dedup_mod.exact_dedup(self.docs))
        near = self._stage(
            "dedup.minhash",
            lambda: dedup_mod.minhash_dedup(
                exact, threshold=THRESHOLD, num_hashes=NUM_HASHES, bands=BANDS, shingle_n=SHINGLE_N
            ),
        )
        pairs = self._stage(
            "dedup.simhash", lambda: dedup_mod.simhash_dup_pairs(dedup_mod.with_simhash(near))
        )
        comps = self._stage("dedup.cc", lambda: dedup_mod.connected_components(pairs))
        out = os.path.join(self.work, f"curated-{self.n_round}")
        drop = comps.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("doc_id"), F.lit("simhash").alias("_simhash")
        )
        fate = (
            self.docs.join(exact.select("doc_id", F.lit(True).alias("_e")), "doc_id", "left")
            .join(near.select("doc_id", F.lit(True).alias("_n")), "doc_id", "left")
            .join(drop, "doc_id", "left")
            .select(
                "doc_id", "text",
                F.when(F.col("_e").isNull(), "exact")
                .when(F.col("_n").isNull(), "minhash")
                .otherwise(F.col("_simhash"))
                .alias("removed_by"),
            )
        )
        fate.write.parquet(out)  # part of the round, not one of the dedup calls
        self.results.append((exact, near, out))

    def _release(self) -> None:
        for df in self.cached:
            df.unpersist()

    def after_round(self, traced: bool) -> None:
        exact, near, out = self.results[-1]
        self.written += _dir_bytes(out)
        kept = [
            r["doc_id"]
            for r in self.spark.read.parquet(out).filter(F.col("removed_by").isNull()).collect()
        ]
        shutil.rmtree(out)
        self.results[-1] = (
            {r["doc_id"] for r in exact.select("doc_id").collect()},
            {r["doc_id"] for r in near.select("doc_id").collect()},
            sorted(kept),
        )
        if traced:
            self._count("dedup.docs_removed", len(self.text) - len(kept))
        self._release()

    def _verify_minhash(self, exact) -> None:
        """The MinHash pairs a round should have verified among the exact
        dedup survivors: the engine's signatures, banded and Jaccard-checked
        in Python. The signatures are ``minhash_signature`` over materialised
        ``word_shingles``: the values ``with_minhash`` gives, in a fifth of
        its time (it recomputes the shingles for every hash function)."""
        shingles = exact.select(
            "doc_id", dedup_mod.word_shingles(F.col("text"), SHINGLE_N).alias("sh")
        ).cache()
        sigs = [
            (r["doc_id"], tuple(r["m"]))
            for r in shingles.select(
                "doc_id", dedup_mod.minhash_signature(F.col("sh"), NUM_HASHES).alias("m")
            ).collect()
        ]
        shingles.unpersist()
        rows = NUM_HASHES // BANDS
        buckets: dict[tuple, list[str]] = {}
        for doc_id, sig in sigs:
            for b in range(BANDS):
                buckets.setdefault((b, sig[b * rows : (b + 1) * rows]), []).append(doc_id)
        cands = {
            (a, b)
            for ids in buckets.values()
            if len(ids) <= MAX_BUCKET
            for a in ids
            for b in ids
            if a < b
        }
        self.n_candidates = len(cands)
        self.verified = {(a, b) for a, b in cands if _jaccard(self.text[a], self.text[b]) >= THRESHOLD}

    def traced_counts(self) -> dict[str, float]:
        return {
            "dedup.candidate_pairs": float(self.n_candidates),
            "dedup.verified_pairs": float(len(self.verified)),
            "dedup.lsh_precision": len(self.verified) / max(1, self.n_candidates),
        }

    def check(self) -> int:
        """A round fails unless exact dedup removed exactly the planted
        duplicates, MinHash removed exactly the second member of every
        verified pair, and the curated output equals the first round's."""
        self._verify_minhash(dedup_mod.exact_dedup(self.docs))
        all_ids = set(self.text)
        removed = {b for _, b in self.verified}
        first = self.results[0][2]
        return sum(
            not (all_ids - exact == self.planted and exact - near == removed and kept == first)
            for exact, near, kept in self.results
        )


WORKLOADS = {w.name: w for w in (Maintain, Dedup)}
