"""TokenTable — the Iceberg-style table abstraction over Parquet + manifests.

Layout under one table root:

```
<root>/data/<event-id>/_part=<source>/part-*.parquet   # immutable data files
<root>/metadata/manifests/manifest-*.parquet            # file-entry lists
<root>/metadata/snapshots/snap-<id>.json                # snapshot descriptors
<root>/metadata/version-hint.text                       # current snapshot ptr
<root>/lineage/<op>.jsonl                               # checkpoint log
```

Key properties:

- **data files are immutable and self-contained** — the ``source`` partition
  column is stored *inside* every Parquet file; directory names are a write
  convenience, never parsed on read (manifests carry partition values, as in
  Iceberg). This is what lets maintenance ops move/regroup files freely while
  scans stay byte-identical.
- **scans are manifest-planned**: filter the manifest DataFrame (partition
  values + per-file min/max stats) first, then read only surviving files with
  an explicit schema — partition pruning and stats-based file skipping happen
  before a single data byte is read, mirroring Circus Train's pushdown of
  partition predicates to the metastore
  (``core/HiveEndpoint.java:147-174``, ``README.md:239-246``).
- **snapshot isolation**: readers resolve a snapshot id once and only ever
  read files listed by that snapshot; commits swap an atomic pointer
  (see ``snapshot.py``).
- **one reader**: every read of a snapshot's rows goes through
  ``TokenTable.read_files`` — the scan, the fast digest's hash-only read,
  compaction's rewrite read (data plus hidden columns) and the
  DELETE/MERGE probes differ only in the schema and tags they ask for —
  so every reader suppresses the same pending merge-on-read deletes.
  Only the physical audits (per-file stats, ``validate``) read files
  directly.
- **one file tag**: "which file did this row come from" is answered by
  ``file_tag()`` alone — the normalised ``_metadata.file_path``, a plain
  path equal to the manifest's ``file_path``. It is deterministic, so
  predicates above a tagged read still push down into the parquet scan.

Scale notes (designed for ~10^12 rows / ~10^6 files):
- manifests are Parquet and are *read* distributed (``spark.read.parquet``);
  only per-commit entry deltas pass through the driver (same posture as
  Iceberg's driver-side commit path);
- data reads pass an explicit file list + schema, so no schema inference or
  directory listing storms;
- appends write with ``partitionBy`` after an explicit repartition so file
  count and size are controlled by the caller.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Iterable
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from circus_train_spark.ids import new_event_id
from circus_train_spark.meta import schema as S
from circus_train_spark.meta.adapter import FileCatalog
from circus_train_spark.meta.lineage import LineageLog
from circus_train_spark.meta.snapshot import CommitConflictError, Snapshot

_ARROW_MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("file_path", pa.string(), False),
        pa.field("partition", pa.string()),
        pa.field("file_size", pa.int64(), False),
        pa.field("n_rows", pa.int64(), False),
        pa.field("min_doc_id", pa.string()),
        pa.field("max_doc_id", pa.string()),
        pa.field("min_n_tok", pa.int32()),
        pa.field("max_n_tok", pa.int32()),
        pa.field("min_zkey", pa.int64()),
        pa.field("max_zkey", pa.int64()),
        pa.field("xor_digest", pa.int64()),
        pa.field("added_snapshot_id", pa.int64(), False),
    ]
)

# Merge-on-read deletes (Iceberg delete-file analogue): one entry per delete
# file; ``kind`` selects the key shape —
#
# - ``"eq"``  (equality):   ``file_path`` is a parquet of deleted ``doc_id``
#   keys; scans anti-join them against the targeted data files.
# - ``"pos"`` (positional): ``file_path`` is a parquet of
#   ``(file_path, row_pos)`` rows naming exact physical row positions
#   (``_metadata.row_index``) inside the targeted data files — cheaper to
#   apply than equality keys (no key-column decode on the data side beyond
#   the hidden metadata column) and the standard answer when the same key
#   legitimately recurs.
#
# ``targets`` names the data files the keys apply to (the partially-matched
# files at delete time). Scoping by target file is what makes a later
# re-insert of a deleted key safe — the new row lands in a new data file
# that no delete entry targets, mirroring Iceberg's sequence-number rule.
# Reference analogue: deferring the expensive physical work past the
# logical commit, as Circus Train's deferred deletion does
# (core/replica/HousekeepingCleanupLocationManager.java:56-92).
_ARROW_DELETE_MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("file_path", pa.string(), False),
        pa.field("kind", pa.string(), False),
        pa.field("n_keys", pa.int64(), False),
        pa.field("targets", pa.list_(pa.string()), False),
        pa.field("added_snapshot_id", pa.int64(), False),
    ]
)


def file_tag() -> Column:
    """The data file a row was read from, as the plain path that manifest
    entries and positional delete files store. Apply it directly on a
    single parquet read (before any union or join). Unlike Spark's
    nondeterministic input-file-name function it lets filters above it
    push down into the parquet scan."""
    return F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")


# Snapshot state that rides with every commit: a key the commit's own
# summary does not set is copied from the snapshot it builds on, so expiry
# never strands the evolved schema and no commit path drops artifacts,
# views or pending merge-on-read deletes.
_CARRIED_STATE = ("schema", "artifacts", "views", "delete_manifests")


def carry_state(base: Snapshot, summary: dict) -> dict:
    """``summary`` plus every carried key it does not set itself, taken
    from ``base``. A key set explicitly (even to an empty value, as a view
    drop does) wins."""
    for key in _CARRIED_STATE:
        if key not in summary and base.summary.get(key):
            summary[key] = base.summary[key]
    return summary


class TokenTable:
    def __init__(self, spark: SparkSession, root: str, catalog=None):
        self.spark = spark
        self.root = os.path.abspath(root)
        # pluggable catalog (the MetaStoreClientFactory analogue,
        # README.md:743-750): a storage adapter from meta/adapter.py that
        # inherits every snapshot-log rule from SnapshotLog; the filesystem
        # store is the default.
        self.log = catalog if catalog is not None else FileCatalog(self.root)
        self.lineage = LineageLog(self.root)
        self.data_dir = os.path.join(self.root, S.DATA_DIR)
        self.manifest_dir = os.path.join(self.root, S.MANIFEST_DIR)
        # extension points (reference: TableTransformation /
        # listener plugins — circus-train-api/.../metadata/*.java,
        # .../event/*.java, SNS example SnsListener.java):
        # entry transforms rewrite manifest entries before they are
        # committed; commit listeners observe every new snapshot.
        self.entry_transforms: list = []
        self.commit_listeners: list = []
        # manifest-entry cache: operators re-plan over the same snapshot's
        # entries 3-4x per run (plan, prune, lineage, commit); re-reading
        # every manifest each time is pure driver latency. Keyed by the
        # snapshot's manifest list, so any commit naturally invalidates.
        self._entries_cache: dict[tuple, list[dict]] = {}

    def on_commit(self, fn) -> None:
        """Register ``fn(snapshot)`` to run after every successful commit."""
        self.commit_listeners.append(fn)

    def add_entry_transform(self, fn) -> None:
        """Register ``fn(entry_dict) -> entry_dict`` applied to every added
        manifest entry before commit (metadata rewrite hook)."""
        self.entry_transforms.append(fn)

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(cls, spark: SparkSession, root: str, catalog=None) -> "TokenTable":
        t = cls(spark, root, catalog=catalog)
        if t.log.current_id() is not None:
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.manifest_dir, exist_ok=True)
        t.log.commit(
            expected_parent_id=None,
            event_id=new_event_id(),
            operation="create",
            manifests=[],
            summary={"schema": S.DATA_SCHEMA.json()},
        )
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str, catalog=None) -> "TokenTable":
        t = cls(spark, root, catalog=catalog)
        if t.log.current_id() is None:
            raise FileNotFoundError(f"no table at {root}")
        return t

    # ------------------------------------------------------------ snapshots
    def current_snapshot(self) -> Snapshot:
        snap = self.log.current()
        if snap is None:
            raise FileNotFoundError(f"no table at {self.root}")
        return snap

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        return (
            self.current_snapshot()
            if snapshot_id is None
            else self.log.get(snapshot_id)
        )

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Latest snapshot on the current head's ancestor chain whose commit
        time is ≤ ``timestamp_ms`` (SQL ``FOR TIMESTAMP AS OF``). Raises if
        every retained ancestor is newer (the history before that point has
        been expired)."""
        best: Snapshot | None = None
        for snap in self.log.history():  # oldest -> newest, retained only
            if snap.timestamp_ms <= timestamp_ms:
                best = snap
        if best is None:
            raise LookupError(
                f"no retained snapshot at or before {timestamp_ms}; "
                "history may have been expired"
            )
        return best

    # ----------------------------------------------------------------- refs
    # Named branches and tags (Iceberg-style refs) + write-audit-publish.
    # Reference analogue: Circus Train's rename-based cutover publishes a
    # fully-written replica location in one pointer swap
    # (core/.../RenameTableOperation.java:42-70); staging a snapshot without
    # moving the head generalizes that to audit-before-publish.
    def refs(self) -> dict:
        return self.log.refs()

    def ref_snapshot_id(self, name: str) -> int:
        """Resolve a branch or tag name to its snapshot id."""
        head = self.log.branch_head(name)
        if head is not None:
            return head
        tag = self.log.refs()["tags"].get(name)
        if tag is not None:
            return int(tag["snapshot_id"])
        raise KeyError(f"no branch or tag named {name!r}")

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        sid = self.current_snapshot().snapshot_id if snapshot_id is None else snapshot_id
        self.log.get(sid)  # must be a retained snapshot
        self.log.set_ref("tags", name, sid)
        return sid

    def drop_tag(self, name: str) -> None:
        self.log.drop_ref("tags", name)

    def create_branch(self, name: str, snapshot_id: int | None = None) -> int:
        sid = self.current_snapshot().snapshot_id if snapshot_id is None else snapshot_id
        self.log.get(sid)
        self.log.set_ref("branches", name, sid)
        return sid

    def drop_branch(self, name: str) -> None:
        self.log.drop_ref("branches", name)

    def publish(self, staged_snapshot_id: int) -> Snapshot:
        """Publish a ``stage_only`` (write-audit-publish) snapshot to main.

        Fast-forwards the head when the staged snapshot's parent is still
        the head (an O(1) pointer swap). Otherwise cherry-picks the staged
        delta — the files and delete files it added, the parent's files it
        dropped — through ``commit`` against the staged parent, so the
        rebase checks apply: a concurrent commit that removed one of the
        dropped files, or a merge-on-read delete since landed on one,
        raises ``CommitConflictError`` and the head stays put."""
        sid = staged_snapshot_id
        staged = self.snapshot(sid)
        try:
            self.log.fast_forward(sid, staged.parent_id)
        except CommitConflictError:  # the head moved
            entries = self.manifest_entries(sid)
            live = {e["file_path"] for e in entries}
            return self.commit(
                operation="publish",
                added=[e for e in entries if e["added_snapshot_id"] == sid],
                removed_paths=set(self.file_paths(staged.parent_id)) - live,
                added_deletes=[
                    d for d in self.delete_entries(sid) if d["added_snapshot_id"] == sid
                ],
                summary={"published_from": sid},
                expected_parent_id=staged.parent_id,
            )
        for fn in self.commit_listeners:
            fn(staged)
        return staged

    # --------------------------------------------------------------- schema
    def data_schema(self, snapshot_id: int | None = None):
        """The table schema as of a snapshot (versioned in the snapshot
        summaries; every commit carries the schema forward, so expiry of old
        snapshots never loses it)."""
        snap = self.snapshot(snapshot_id)
        seen = set()
        while snap is not None:
            text = snap.summary.get("schema")
            if text:
                return S.schema_from_json(text)
            if snap.parent_id is None or snap.parent_id in seen:
                break
            seen.add(snap.parent_id)
            try:
                snap = self.log.get(snap.parent_id)
            except FileNotFoundError:
                break
        return S.DATA_SCHEMA

    def alter_schema(self, new_schema) -> Snapshot:
        """Evolve the table schema (add column / remove non-core column /
        int->long / float->double promotion — the supported half of the
        reference matrix, ``SCHEMA_EVOLUTION.md:10-30``). Metadata-only:
        old data files are reconciled at scan time (missing column -> null,
        widened ints/floats promoted by the parquet reader), mirroring how
        the reference alters the replica table rather than rewriting data
        (``AlterTableService.java:47-67``)."""
        old = self.data_schema()
        S.check_evolution(old, new_schema)
        return self.commit(
            operation="alter_schema",
            summary={"schema": new_schema.json()},
        )

    # -------------------------------------------------------------- artifacts
    # External schema artifacts travelling WITH the table — the analogue of
    # the reference's Avro schema copy + URL rewrite, where replication
    # copies the schema file alongside the replica and rebinds the table
    # property to the new location (circus-train-avro/.../
    # AvroSerDeTableTransformation.java:45-61, SchemaCopier.java:67-104).
    # Artifacts live under <root>/metadata/artifacts/ and are recorded in
    # snapshot summaries as {name: root-relative path}; the root-relative
    # form is what makes a replica's rebind a pure copy + same relpath.

    ARTIFACT_DIR = "metadata/artifacts"

    def attach_artifact(self, src_path: str, name: str | None = None) -> Snapshot:
        """Copy an external file into the table tree and version the pointer
        in a metadata-only commit. Re-attaching an existing name replaces
        the pointer (the old file stays for snapshots that reference it and
        is reclaimed by orphan housekeeping once unreferenced)."""
        name = name or os.path.basename(src_path)
        rel = os.path.join(
            self.ARTIFACT_DIR, f"{uuid.uuid4().hex[:8]}-{name}"
        )
        dest = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(src_path, dest)
        arts = dict(self.current_snapshot().summary.get("artifacts", {}))
        arts[name] = rel
        return self.commit(operation="attach_artifact", summary={"artifacts": arts})

    def artifacts(self, snapshot_id: int | None = None) -> dict[str, str]:
        """{name: absolute path} of the artifacts a snapshot references."""
        arts = self.snapshot(snapshot_id).summary.get("artifacts", {})
        return {n: os.path.join(self.root, rel) for n, rel in arts.items()}

    def bind_artifacts_from(self, other: "TokenTable") -> dict[str, str]:
        """Copy ``other``'s artifacts into THIS table's tree (same relative
        paths) and return the artifacts map to stamp into the next commit's
        summary — replication calls this so the artifact travels with the
        replica (SchemaCopier.java:67-104 behavior)."""
        merged = dict(self.current_snapshot().summary.get("artifacts", {}))
        src = other.snapshot().summary.get("artifacts", {})
        for name, rel in src.items():
            dest = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(os.path.join(other.root, rel), dest)
            merged[name] = rel
        return merged

    # ----------------------------------------------------------------- views
    # Named SQL view definitions travelling WITH the table — the analogue of
    # the reference's Hive-view replication, where the view's stored HQL is
    # the replicated object and source table references inside it are
    # rewritten to replica names (circus-train-hive-view/.../
    # ViewTransformation.java:65-90, HqlTranslator.java:79-106). View text
    # lives in snapshot summaries (carried forward like schema/artifacts),
    # so views are snapshot-pinned, branch/time-travel aware, and cost zero
    # data bytes. Execution and replication-time translation live in
    # operators/views.py.

    def create_view(self, name: str, hql: str) -> Snapshot:
        """Store (or replace) a named SQL view definition in a metadata-only
        commit. The text is stored verbatim; table references inside it are
        bound at execution time (``operators.views.run_view``) and rewritten
        at replication time (``operators.views.translate_views``)."""
        if not name or not hql or not hql.strip():
            raise ValueError("view name and SQL text are required")
        views = dict(self.current_snapshot().summary.get("views", {}))
        views[name] = hql
        return self.commit(operation="create_view", summary={"views": views})

    def drop_view(self, name: str) -> Snapshot:
        views = dict(self.current_snapshot().summary.get("views", {}))
        if name not in views:
            raise KeyError(f"no such view: {name}")
        del views[name]
        # empty dict still stamps the key so the drop wins over carry-forward
        return self.commit(operation="drop_view", summary={"views": views})

    def views(self, snapshot_id: int | None = None) -> dict[str, str]:
        """{view name: stored SQL text} as of a snapshot."""
        return dict(self.snapshot(snapshot_id).summary.get("views", {}))

    # ------------------------------------------------------------ manifests
    def manifest_df(self, snapshot_id: int | None = None) -> DataFrame:
        """All live file entries for a snapshot, as a DataFrame."""
        snap = self.snapshot(snapshot_id)
        if not snap.manifests:
            return self.spark.createDataFrame([], S.MANIFEST_SCHEMA)
        return self.spark.read.schema(S.MANIFEST_SCHEMA).parquet(*snap.manifests)

    def manifest_entries(self, snapshot_id: int | None = None) -> list[dict]:
        """Driver-side manifest entries (for planning/commit paths).

        Reads are parallelized across manifests (thread pool — pyarrow
        releases the GIL) and memoized per snapshot; callers receive fresh
        dict copies so cached entries are never aliased/mutated.
        """
        snap = self.snapshot(snapshot_id)
        key = (snap.snapshot_id, tuple(snap.manifests))
        cached = self._entries_cache.get(key)
        if cached is None:
            if len(snap.manifests) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(16, len(snap.manifests))
                ) as pool:
                    parts = list(
                        pool.map(lambda m: pq.read_table(m).to_pylist(), snap.manifests)
                    )
                cached = [e for part in parts for e in part]
            else:
                cached = [
                    e for m in snap.manifests for e in pq.read_table(m).to_pylist()
                ]
            if len(self._entries_cache) >= 4:  # bound driver memory
                self._entries_cache.pop(next(iter(self._entries_cache)))
            self._entries_cache[key] = cached
        return [dict(e) for e in cached]

    def write_manifest(self, entries: list[dict]) -> str:
        path = os.path.join(self.manifest_dir, f"manifest-{uuid.uuid4().hex}.parquet")
        cols = {
            f.name: [e.get(f.name) for e in entries]
            for f in _ARROW_MANIFEST_SCHEMA
        }
        table = pa.table(cols, schema=_ARROW_MANIFEST_SCHEMA)
        pq.write_table(table, path)
        return path

    # ------------------------------------------------- merge-on-read deletes
    def delete_manifests(self, snapshot_id: int | None = None) -> list[str]:
        """Delete-manifest paths carried by a snapshot (empty when no
        merge-on-read deletes are pending)."""
        return list(self.snapshot(snapshot_id).summary.get("delete_manifests", []))

    def delete_entries(self, snapshot_id: int | None = None) -> list[dict]:
        """Live delete-file entries for a snapshot:
        ``{file_path, kind, n_keys, targets, added_snapshot_id}`` dicts
        (``kind`` in ``{"eq", "pos"}``; manifests written before positional
        deletes existed read back as ``"eq"``). Small by construction (MOR
        is chosen only for low-touch deletes; compaction purges entries), so
        a driver-side list like ``manifest_entries``."""
        out: list[dict] = []
        for m in self.delete_manifests(snapshot_id):
            for e in pq.read_table(m).to_pylist():
                e.setdefault("kind", "eq")
                out.append(e)
        return out

    def write_delete_manifest(self, entries: list[dict]) -> str:
        path = os.path.join(
            self.manifest_dir, f"delete-manifest-{uuid.uuid4().hex}.parquet"
        )
        stamped = [{"kind": "eq", **e} for e in entries]
        cols = {
            f.name: [e.get(f.name) for e in stamped]
            for f in _ARROW_DELETE_MANIFEST_SCHEMA
        }
        pq.write_table(pa.table(cols, schema=_ARROW_DELETE_MANIFEST_SCHEMA), path)
        return path

    def _delete_groups(
        self, paths: list[str], snapshot_id: int | None
    ) -> list[tuple[list[str], list[str], list[str]]]:
        """Group data files by the EXACT set of pending delete key files
        that target them: ``[(paths, eq_key_files, pos_key_files), ...]``,
        the untargeted files last as one clean group with no key files
        (the only group when nothing is targeted).

        Grouping per applicable-entry-set (not one lump of all targeted
        files vs all keys) keeps each entry's keys scoped to its own target
        files: a key deleted by entry A must never suppress a same-key row
        that a later MERGE re-inserted into a file only entry B targets."""
        pset = set(paths)
        eq_by_path: dict[str, set[str]] = {}
        pos_by_path: dict[str, set[str]] = {}
        for e in self.delete_entries(snapshot_id):
            d = pos_by_path if e.get("kind", "eq") == "pos" else eq_by_path
            for p in pset.intersection(e["targets"]):
                d.setdefault(p, set()).add(e["file_path"])
        clean: list[str] = []
        groups: dict[tuple, list[str]] = {}
        for p in paths:
            key = (
                tuple(sorted(eq_by_path.get(p, ()))),
                tuple(sorted(pos_by_path.get(p, ()))),
            )
            if key == ((), ()):
                clean.append(p)
            else:
                groups.setdefault(key, []).append(p)
        out = [(sorted(ps), list(k[0]), list(k[1])) for k, ps in sorted(groups.items())]
        return out + [(clean, [], [])] if clean else out

    def _read_group(
        self,
        schema,
        paths: list[str],
        eq_key_files: list[str],
        pos_key_files: list[str],
        file_col: str | None = None,
        pos_col: str | None = None,
    ) -> DataFrame:
        """Read one target-file group and suppress its pending MOR deletes:
        positional keys anti-join on (file tag, ``_metadata.row_index``);
        equality keys anti-join on ``doc_id``, which is read for the join
        and dropped again when ``schema`` lacks it. Both key sides are
        broadcast (small by MOR construction). Surviving rows keep their
        physical positions — ``pos_col`` stays meaningful for stacking a
        second positional delete on a still-pending file."""
        read_schema = schema
        if eq_key_files and "doc_id" not in schema.fieldNames():
            read_schema = T.StructType(
                [T.StructField("doc_id", T.StringType(), True)] + schema.fields
            )
        df = self.spark.read.schema(read_schema).parquet(*paths)
        fp, rp = file_col or "_mor_fp", pos_col or "_mor_rp"
        if file_col or pos_key_files:
            df = df.withColumn(fp, file_tag())
        if pos_col or pos_key_files:
            df = df.withColumn(rp, F.col("_metadata.row_index"))
        if pos_key_files:
            pos = self.spark.read.parquet(*pos_key_files).select(
                F.col("file_path").alias("_del_fp"),
                F.col("row_pos").alias("_del_rp"),
            )
            df = df.join(
                F.broadcast(pos),
                (F.col(fp) == F.col("_del_fp")) & (F.col(rp) == F.col("_del_rp")),
                "left_anti",
            )
        if eq_key_files:
            keys = self.spark.read.parquet(*eq_key_files).select("doc_id")
            df = df.join(F.broadcast(keys), "doc_id", "left_anti")
        extra = [c for c in ("_mor_fp", "_mor_rp") if c in df.columns]
        if read_schema is not schema:
            extra.append("doc_id")
        return df.drop(*extra)

    def read_files(
        self,
        paths: list[str],
        schema=None,
        snapshot_id: int | None = None,
        file_col: str | None = None,
        pos_col: str | None = None,
    ) -> DataFrame:
        """The one data reader: ``paths`` read with ``schema`` (default: the
        snapshot's data schema; old files reconcile against it — missing
        columns -> null, int->long / float->double widened) and the
        snapshot's pending MOR deletes suppressed, each pending key scoped
        to the files its entry targets. ``file_col`` tags every row with
        the data file it came from (``file_tag``: the plain path manifests
        and positional delete files store); ``pos_col`` with its physical
        row position inside that file (``_metadata.row_index``). Both tags
        are attached per single-source read, before any anti-join."""
        if schema is None:
            schema = self.data_schema(snapshot_id)
        if not paths:
            extra = [T.StructField(file_col, T.StringType())] if file_col else []
            if pos_col:
                extra.append(T.StructField(pos_col, T.LongType()))
            return self.spark.createDataFrame([], T.StructType(schema.fields + extra))
        parts = [
            self._read_group(schema, ps, eq, pos, file_col=file_col, pos_col=pos_col)
            for ps, eq, pos in self._delete_groups(paths, snapshot_id)
        ]
        return reduce(DataFrame.unionByName, parts)

    # ---------------------------------------------------------------- scans
    def select_partitions(
        self,
        partition_filter: str | None = None,
        limit: int | None = None,
        snapshot_id: int | None = None,
    ) -> list[str]:
        """Partitions matching a SQL boolean over ``partition``, newest
        first, capped at ``limit`` — the HIVE-1609 partition-predicate scan
        (``core/HiveEndpoint.java:147-174``; grammar ``README.md:239-246``)
        with Catalyst as the predicate parser instead of the metastore."""
        sel = self.manifest_df(snapshot_id).select("partition").distinct()
        if partition_filter:
            sel = sel.filter(F.expr(partition_filter))
        sel = sel.orderBy(F.desc("partition"))
        if limit is not None:
            sel = sel.limit(limit)
        return [r["partition"] for r in sel.collect()]

    def file_paths(
        self,
        snapshot_id: int | None = None,
        partitions: Iterable[str] | None = None,
        doc_id_range: tuple[str, str] | None = None,
        n_tok_range: tuple[int, int] | None = None,
    ) -> list[str]:
        """Live file list with manifest-level pruning: partition values plus
        per-file [min, max] stats intersection (the payoff of Z-order
        clustering — range predicates skip whole files before any data
        read). Files with missing stats are conservatively kept."""
        entries = self.manifest_entries(snapshot_id)
        if partitions is not None:
            keep = set(partitions)
            entries = [e for e in entries if e["partition"] in keep]

        def _hits(e: dict, lo, hi, mn_k: str, mx_k: str) -> bool:
            mn, mx = e[mn_k], e[mx_k]
            if mn is None or mx is None:
                return True
            return mx >= lo and mn <= hi

        if doc_id_range is not None:
            lo, hi = doc_id_range
            entries = [e for e in entries if _hits(e, lo, hi, "min_doc_id", "max_doc_id")]
        if n_tok_range is not None:
            lo, hi = n_tok_range
            entries = [e for e in entries if _hits(e, lo, hi, "min_n_tok", "max_n_tok")]
        return [e["file_path"] for e in entries]

    def scan(
        self,
        snapshot_id: int | None = None,
        partitions: Iterable[str] | None = None,
        files: list[str] | None = None,
        partition_filter: str | None = None,
        partition_limit: int | None = None,
        doc_id_range: tuple[str, str] | None = None,
        n_tok_range: tuple[int, int] | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-pinned read. Returns an empty DF for an empty table.

        Partition pruning and min/max file skipping happen against the
        manifest before any data file is opened; ``partition_filter`` is a
        SQL boolean over ``partition``. Range arguments prune files but do
        NOT filter rows — callers still apply their row predicate.
        ``ref`` reads a named branch head or tag instead of the main head;
        ``as_of_ms`` time-travels to the newest snapshot committed at or
        before that wall-clock time (``FOR TIMESTAMP AS OF``).
        """
        if sum(x is not None for x in (snapshot_id, ref, as_of_ms)) > 1:
            raise ValueError("pass at most one of snapshot_id / ref / as_of_ms")
        if ref is not None:
            snapshot_id = self.ref_snapshot_id(ref)
        elif as_of_ms is not None:
            snapshot_id = self.snapshot_as_of(as_of_ms).snapshot_id
        if partition_filter or partition_limit is not None:
            sel = self.select_partitions(
                partition_filter, partition_limit, snapshot_id
            )
            partitions = sel if partitions is None else set(partitions) & set(sel)
        paths = (
            files
            if files is not None
            else self.file_paths(snapshot_id, partitions, doc_id_range, n_tok_range)
        )
        return self.read_files(paths, snapshot_id=snapshot_id)

    # --------------------------------------------------------------- writes
    def _stage_dir(self, event_id: str) -> str:
        d = os.path.join(self.data_dir, event_id)
        os.makedirs(d, exist_ok=True)
        return d

    def write_data_files(
        self,
        df: DataFrame,
        event_id: str,
        num_files: int | None = None,
        sub_dir: str | None = None,
        shuffle: bool = True,
    ) -> list[dict]:
        """Write rows as immutable data files under a unique event-id folder
        and return manifest entries (stats computed Spark-side, sizes from the
        filesystem). The ``source`` column is duplicated into a directory
        partition column so each file holds exactly one partition value while
        the real column stays inside the file.
        """
        from circus_train_spark.functions.digest import row_hash

        stage = self._stage_dir(event_id)
        if sub_dir:
            stage = os.path.join(stage, sub_dir)
        cols = [f.name for f in self.data_schema().fields]
        out = (
            df.select(*cols)
            .withColumn(S.ROW_HASH_COL, row_hash())
            .withColumn(S.WRITE_PART_COL, F.col("source"))
        )
        part_dirs = [S.WRITE_PART_COL]
        if shuffle and num_files:
            # Source-major file assignment in ONE data pass. (The previous
            # repartitionByRange(source, xxhash64) plan was skew-balanced
            # too, but Spark's range sampler re-evaluates the FULL child —
            # for appends of generated/derived inputs that doubled the token
            # compute.) Plan: a narrow per-source row-count pre-pass
            # (Catalyst prunes the token expressions/columns away), then a
            # row-proportional bin budget per source — the hot source gets
            # proportionally many files, skew balanced by construction — and
            # bin = offset + pmod(xxhash64(doc_id), bins_of_source), pure
            # column algebra. The hash exchange on the bin id lands each bin
            # wholly in one task; writing with partitionBy(source, bin)
            # emits exactly one file per bin even when a task carries
            # several bins.
            counts = {
                r["source"]: r["n"]
                for r in df.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            total = max(1, sum(counts.values()))
            n_bins: dict[str, int] = {
                s: max(1, round(num_files * n / total)) for s, n in counts.items()
            }
            offsets: dict[str, int] = {}
            acc = 0
            for s in sorted(n_bins):
                offsets[s] = acc
                acc += n_bins[s]
            off_expr = F.lit(0)
            bins_expr = F.lit(1)
            for s in sorted(n_bins):
                off_expr = F.when(F.col("source") == s, F.lit(offsets[s])).otherwise(off_expr)
                bins_expr = F.when(F.col("source") == s, F.lit(n_bins[s])).otherwise(bins_expr)
            out = (
                out.withColumn(
                    "_abin",
                    (off_expr + F.pmod(F.xxhash64("doc_id"), bins_expr)).cast("int"),
                )
                .repartition(max(2 * acc, 1), "_abin")
                .sortWithinPartitions(S.WRITE_PART_COL, "_abin")
            )
            part_dirs = [S.WRITE_PART_COL, "_abin"]
        elif num_files:
            out = out.coalesce(num_files)
        from circus_train_spark.meta.writers import WriteRequest, writer_for

        writer_for(stage).write(
            WriteRequest(
                df=out,
                dest_dir=stage,
                partition_cols=part_dirs,
                codec=S.TOKEN_PARQUET_CODEC,
                mode="append",
            )
        )
        return self.collect_entries_for_dir(stage)

    @staticmethod
    def _walk_parquet(directory: str) -> list[str]:
        files = []
        for base, _dirs, names in os.walk(directory):
            for n in names:
                if n.endswith(".parquet") and not n.startswith(("_", ".")):
                    files.append(os.path.join(base, n))
        return sorted(files)

    def collect_entries_for_dir(self, directory: str, zkey: bool = False) -> list[dict]:
        return self.collect_entries_for_files(self._walk_parquet(directory), zkey=zkey)

    def collect_entries_for_files(
        self, files: list[str], zkey: bool = False
    ) -> list[dict]:
        """Stats + sizes for an explicit list of parquet data files.

        Reads the explicit leaf-file list (no directory-partition inference:
        partition values come from file *content*, never from path parsing).
        Fast path: files written by this engine persist the per-row hash
        (and, for clustered files, the zkey) as hidden columns, so only
        narrow columns are decoded — token arrays stay untouched on disk.
        Files lacking the hidden hash fall back to a full recompute.
        """
        from circus_train_spark.functions.digest import row_hash
        from circus_train_spark.functions.stats import per_file_stats

        if not files:
            return []
        schema = S.STATS_READ_SCHEMA_Z if zkey else S.STATS_READ_SCHEMA
        read = (
            self.spark.read.schema(schema).parquet(*files).withColumn("_file", file_tag())
        )
        rows = per_file_stats(read, zkey=zkey).collect()
        if any(r["xor_digest"] is None and r["n_rows"] > 0 for r in rows):
            # legacy/foreign files without the persisted hash column
            read = (
                self.spark.read.schema(S.DATA_SCHEMA)
                .parquet(*files)
                .withColumn("_h", row_hash())
                .withColumn("_file", file_tag())
            )
            rows = per_file_stats(read).collect()
        entries = []
        for r in rows:
            entries.append(
                {
                    "file_path": r["file_path"],
                    "partition": r["partition"],
                    "file_size": os.path.getsize(r["file_path"]),
                    "n_rows": r["n_rows"],
                    "min_doc_id": r["min_doc_id"],
                    "max_doc_id": r["max_doc_id"],
                    "min_n_tok": r["min_n_tok"],
                    "max_n_tok": r["max_n_tok"],
                    "min_zkey": r["min_zkey"],
                    "max_zkey": r["max_zkey"],
                    "xor_digest": r["xor_digest"],
                    "added_snapshot_id": -1,  # patched at commit
                }
            )
        return sorted(entries, key=lambda e: e["file_path"])

    # --------------------------------------------------------------- commit
    def _rewrite_manifests_for_removal(
        self, parent: Snapshot, removed_paths: set[str]
    ) -> list[str]:
        """Carry forward manifests untouched by the removal; rewrite the rest
        without the removed entries. Manifest reads/writes are parallelized
        across the same bounded thread pool as ``manifest_entries`` (pyarrow
        releases the GIL) — at 10^3 manifests the serial loop was the
        commit's latency floor."""

        def _one(m: str) -> str | None:
            tbl = pq.read_table(m)
            mask = [p not in removed_paths for p in tbl.column("file_path").to_pylist()]
            if all(mask):
                return m
            kept = tbl.filter(pa.array(mask))
            if not len(kept):
                return None
            path = os.path.join(
                self.manifest_dir, f"manifest-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(kept, path)
            return path

        if len(parent.manifests) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(16, len(parent.manifests))
            ) as pool:
                results = list(pool.map(_one, parent.manifests))
        else:
            results = [_one(m) for m in parent.manifests]
        return [m for m in results if m is not None]

    def commit(
        self,
        *,
        operation: str,
        added: list[dict] | None = None,
        removed_paths: set[str] | None = None,
        added_deletes: list[dict] | None = None,
        summary: dict | None = None,
        expected_parent_id: int | None = None,
        event_id: str | None = None,
        conflict_retries: int = 4,
        branch: str = "main",
        stage_only: bool = False,
        check: Callable[[Snapshot], None] | None = None,
    ) -> Snapshot:
        """Copy-on-write metadata commit: carry forward untouched manifests,
        rewrite manifests that lose entries, add one manifest for new files,
        then put the snapshot descriptor and swap the branch pointer
        (``SnapshotLog.commit``).

        ``check(snapshot)`` runs before any ref moves: on the stored
        descriptor, which it compares with ``snapshot.parent_id``, the
        snapshot it lands on. A ``CommitConflictError`` — a lost race, or
        one ``check`` raises — rebases and checks again; any other exception
        propagates with no ref moved. An attempt that does not land leaves
        no descriptor (its files become orphans). ``stage_only`` only stores
        the descriptor: no ref moves, and ``publish`` lands it later.

        Concurrency: optimistic with bounded automatic rebase (Iceberg-style
        snapshot isolation). When the branch moved under the committer, the
        commit is re-based onto the new head and retried, provided every path
        this commit removes, or targets with an added delete entry, is still
        live there — i.e. no concurrent commit rewrote or deleted a file we
        read — and no merge-on-read delete that landed since the planning
        snapshot targets a removed path. A true overlap raises
        ``CommitConflictError``; the operator must re-plan.
        Reference analogue: per-table failure-isolated metastore upserts
        (``core/replica/Replica.java:210-267``,
        ``core/Locomotive.java:107-126``).

        Merge-on-read deletes: the parent's pending delete entries are
        carried forward with their target lists shrunk by this commit's
        ``removed_paths``; entries left with no live target are purged
        (their key files become orphans for housekeeping). ``added_deletes``
        appends new entries (``delete_where(mode="mor")``).
        """
        event_id = event_id or new_event_id()
        if branch == "main":
            parent = self.current_snapshot()
        else:
            head_id = self.log.branch_head(branch)
            if head_id is None:
                raise KeyError(f"no branch named {branch!r}; create_branch first")
            parent = self.snapshot(head_id)
        if expected_parent_id is None:
            expected_parent_id = parent.snapshot_id
        elif expected_parent_id != parent.snapshot_id:
            # plan on the caller's snapshot: the swap fails because the
            # branch moved, and the rebase below validates the move
            parent = self.snapshot(expected_parent_id)
        added = added or []
        if added:
            for t in self.entry_transforms:
                added = [t(dict(e)) for e in added]
        removed_paths = removed_paths or set()
        added_deletes = added_deletes or []
        # paths that must still be live at any head this commit rebases onto
        needed = removed_paths.union(*(d["targets"] for d in added_deletes))

        attempt = 0
        while True:
            try:
                snap = self._try_commit(
                    operation=operation,
                    parent=parent,
                    added=added,
                    removed_paths=removed_paths,
                    added_deletes=added_deletes,
                    summary=summary,
                    event_id=event_id,
                    branch=branch,
                    stage_only=stage_only,
                    check=check,
                )
                break
            except CommitConflictError as conflict:
                attempt += 1
                if attempt > conflict_retries:
                    raise CommitConflictError(
                        f"commit of {operation!r} lost {attempt} straight races; giving up"
                    ) from conflict
                head = self.snapshot(self.log.branch_head(branch))
                if needed:
                    self._validate_rebase(
                        operation, head, needed, removed_paths, expected_parent_id
                    )
                parent = head
        for fn in self.commit_listeners:
            fn(snap)
        return snap

    def _validate_rebase(
        self,
        operation: str,
        head: Snapshot,
        needed: set[str],
        removed_paths: set[str],
        planned_id: int,
    ) -> None:
        """Raise ``CommitConflictError`` unless a commit planned on
        ``planned_id`` may land on ``head``: every ``needed`` path (removed,
        or targeted by an added delete entry) is live there, and no delete
        entry added since targets a removed path — files written from the
        planning snapshot never saw it, so dropping their inputs would
        purge it."""
        missing = needed - {e["file_path"] for e in self.manifest_entries(head.snapshot_id)}
        if missing:
            raise CommitConflictError(
                f"conflicting concurrent commit: {len(missing)} file(s) this "
                f"{operation!r} rewrites or deletes from were removed by another "
                f"commit (e.g. {sorted(missing)[0]}); re-plan required"
            )
        seen = {d["file_path"] for d in self.delete_entries(planned_id)}
        for d in self.delete_entries(head.snapshot_id):
            if d["file_path"] not in seen and not removed_paths.isdisjoint(d["targets"]):
                raise CommitConflictError(
                    f"conflicting concurrent commit: merge-on-read delete "
                    f"{d['file_path']} targets file(s) this {operation!r} "
                    "rewrites; re-plan required"
                )

    def _try_commit(
        self,
        *,
        operation: str,
        parent: Snapshot,
        added: list[dict],
        removed_paths: set[str],
        summary: dict | None,
        event_id: str,
        added_deletes: list[dict],
        branch: str,
        stage_only: bool,
        check: Callable[[Snapshot], None] | None,
    ) -> Snapshot:
        """One optimistic attempt against ``parent``; a lost race raises
        ``CommitConflictError``."""
        new_sid = self.log.next_id()
        if removed_paths:
            manifests = self._rewrite_manifests_for_removal(parent, removed_paths)
        else:
            manifests = list(parent.manifests)
        if added:
            stamped = [dict(e) for e in added]
            for e in stamped:
                e["added_snapshot_id"] = new_sid
            manifests.append(self.write_manifest(stamped))
        summary = carry_state(parent, dict(summary or {}))
        # merge-on-read delete state: carried forward above; shrink / purge /
        # append here
        if parent.summary.get("delete_manifests") or added_deletes:
            survivors: list[dict] = []
            changed = False
            for e in self.delete_entries(parent.snapshot_id):
                live_targets = [t for t in e["targets"] if t not in removed_paths]
                if len(live_targets) != len(e["targets"]):
                    changed = True
                    if not live_targets:
                        continue  # purged: every targeted file left the table
                    e = {**e, "targets": live_targets}
                survivors.append(e)
            for e in added_deletes:
                changed = True
                survivors.append({**e, "added_snapshot_id": new_sid})
            if changed and survivors:
                summary["delete_manifests"] = [self.write_delete_manifest(survivors)]
            elif changed:
                summary.pop("delete_manifests", None)
        summary.setdefault("added_files", len(added))
        summary.setdefault("removed_files", len(removed_paths))
        summary.setdefault("added_rows", sum(e["n_rows"] for e in added))
        summary.setdefault("added_bytes", sum(e["file_size"] for e in added))
        return self.log.commit(
            expected_parent_id=parent.snapshot_id,
            event_id=event_id,
            operation=operation,
            manifests=manifests,
            summary=summary,
            branch=branch,
            stage_only=stage_only,
            snapshot_id=new_sid,
            check=check,
        )

    def append(
        self,
        df: DataFrame,
        num_files: int | None = None,
        summary: dict | None = None,
        branch: str = "main",
        stage_only: bool = False,
    ) -> Snapshot:
        """Append rows as a new snapshot. ``summary`` extras are stamped into
        the snapshot descriptor in the SAME atomic commit — callers use this
        to make external idempotency markers (e.g. a streaming micro-batch
        id) transactional with the data.

        ``branch`` appends to a named branch; ``stage_only`` stages a
        write-audit-publish snapshot that no reader sees until ``publish``."""
        event_id = new_event_id()
        entries = self.write_data_files(df, event_id, num_files=num_files)
        return self.commit(
            operation="append",
            added=entries,
            summary=summary,
            event_id=event_id,
            branch=branch,
            stage_only=stage_only,
        )

    # ------------------------------------------------------------ utilities
    def table_stats(self, snapshot_id: int | None = None) -> dict:
        """Table-level statistics folded from the manifest (the
        ``TableAndStatistics`` / ``PartitionsAndStatistics`` analogue —
        ``core/PartitionsAndStatistics.java:34-110``): totals plus per-
        partition rollups, all metadata-only (zero data bytes read).
        Replication carries these implicitly — per-file stats ride in the
        manifest entries a replica rebinds or rebuilds."""
        entries = self.manifest_entries(snapshot_id)
        ranges = (
            ("min_doc_id", min), ("max_doc_id", max), ("min_n_tok", min), ("max_n_tok", max)
        )
        per_part: dict[str, dict] = {}
        for e in entries:
            p = per_part.setdefault(
                e["partition"],
                {"files": 0, "rows": 0, "bytes": 0, **{k: None for k, _ in ranges}},
            )
            p["files"] += 1
            p["rows"] += e["n_rows"]
            p["bytes"] += e["file_size"]
            for k, fold in ranges:
                if e[k] is not None:
                    p[k] = e[k] if p[k] is None else fold(p[k], e[k])
        return {
            "files": len(entries),
            "rows": sum(e["n_rows"] for e in entries),
            "bytes": sum(e["file_size"] for e in entries),
            "partitions": per_part,
        }

    def table_digest(self, snapshot_id: int | None = None, fast: bool = True) -> dict:
        """Order-insensitive content digest (n_rows, bit_xor, decimal sum of
        per-row xxhash64).

        ``fast`` reads ONLY the persisted hidden row-hash column — files
        written by this engine carry it, so the digest scan is ~8 bytes/row
        (no token decode; at 100 TB the verify pass reads ~0.1% of table
        bytes). Any file lacking the column (foreign parquet) is detected in
        the same single job (hash-count < row-count) and the digest falls
        back to a full recompute; both paths produce identical values since
        the persisted column IS row_hash()."""
        from circus_train_spark.functions.digest import digest_agg, table_digest

        if fast:
            paths = self.file_paths(snapshot_id)
            if paths:
                # pending MOR deletes need doc_id only for equality-keyed
                # groups (read_files adds it there); still no token decode
                hashes = self.read_files(
                    paths,
                    T.StructType([T.StructField(S.ROW_HASH_COL, T.LongType(), True)]),
                    snapshot_id,
                )
                row = (
                    hashes.agg(
                        F.count(S.ROW_HASH_COL).alias("n_hashed"),
                        *digest_agg(S.ROW_HASH_COL),
                    )
                    .collect()[0]
                )
                if row["n_hashed"] == row["n_rows"]:
                    return {
                        "n_rows": row["n_rows"],
                        "xor_digest": row["xor_digest"],
                        "sum_digest": (
                            int(row["sum_digest"])
                            if row["sum_digest"] is not None
                            else None
                        ),
                    }
        return table_digest(self.scan(snapshot_id))

    def assert_rows_preserved(self, snap: Snapshot) -> None:
        """The ``commit`` check of a row-preserving rewrite (compaction,
        clustering): ``snap`` holds exactly the rows of the snapshot it
        lands on, by the order-insensitive digest."""
        before = self.table_digest(snap.parent_id)
        after = self.table_digest(snap.snapshot_id)
        if after != before:
            raise AssertionError(
                f"scan-equality violated by {snap.operation}: {before} -> {after}"
            )

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
