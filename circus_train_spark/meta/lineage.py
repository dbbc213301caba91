"""Per-partition/per-group lineage + checkpoint log.

Every operator writes its rows through ``with table.lineage.run(op,
run_id) as run:``, opened just before its first write. One row per unit of
work (a compaction group, a replicated partition, a row-level change)
records files-in/files-out/rows/bytes and one of three statuses:

- ``staged``: a resume checkpoint, appended at once by ``run.stage``;
- ``done``: on a clean exit, after the commit, every staged or
  ``run.record``-ed unit is appended again as ``done``;
- ``failed``: on an exception, one row with ``error`` set, then the
  exception propagates.

``records`` returns the outcome rows (``done`` and ``failed``).
``completed_groups``, the resume checkpoint, accepts ``staged`` and
``done`` units whose outputs still exist.

Reference analogue: Hadoop counters incremented per copy task and rolled up
at job end (``s3-mapreduce-cp/.../mapreduce/CopyMapper.java:142-145``,
``circus-train-metrics/.../JobMetrics.java:46-70``) plus per-table failure
isolation and a completion code in the driver loop
(``core/Locomotive.java:107-126``).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field, replace

from circus_train_spark.ids import new_event_id
from circus_train_spark.meta import schema as S

STATUS_STAGED = "staged"
STATUS_DONE = "done"
STATUS_FAILED = "failed"


@dataclass
class LineageRecord:
    run_id: str
    operation: str
    group_id: str
    partition: str | None = None
    files_in: list[str] = field(default_factory=list)
    files_out: list[str] = field(default_factory=list)
    rows: int = 0
    bytes_in: int = 0
    bytes_out: int = 0
    status: str = STATUS_DONE
    error: str | None = None
    timestamp_ms: int = 0
    duration_s: float = 0.0


class LineageRun:
    """One operator run: its ``run_id`` (the event id that names its
    output folder and snapshot), start time ``t0`` and the units it wrote.
    A unit's ``group_id`` defaults to ``run_id`` and its ``duration_s`` to
    the seconds since ``t0``."""

    def __init__(self, log: "LineageLog", operation: str, run_id: str):
        self.log, self.operation, self.run_id = log, operation, run_id
        self.t0 = time.monotonic()
        self.units: list[LineageRecord] = []

    def record(self, **fields) -> LineageRecord:
        """Buffer one unit; it is appended as ``done`` on a clean exit."""
        fields.setdefault("group_id", self.run_id)
        fields.setdefault("duration_s", time.monotonic() - self.t0)
        rec = LineageRecord(run_id=self.run_id, operation=self.operation, **fields)
        self.units.append(rec)
        return rec

    def adopt(self, rec: LineageRecord) -> None:
        """Buffer a unit an earlier run staged; it turns ``done`` with this run."""
        self.units.append(
            replace(rec, run_id=self.run_id, status=STATUS_DONE, timestamp_ms=0)
        )

    def stage(self, **fields) -> None:
        """``record`` one unit and append it as a ``staged`` resume
        checkpoint now."""
        self.log.append(replace(self.record(**fields), status=STATUS_STAGED))


class LineageLog:
    def __init__(self, root: str):
        self.dir = os.path.join(root, S.LINEAGE_DIR)

    def _path(self, operation: str) -> str:
        return os.path.join(self.dir, f"{operation}.jsonl")

    def append(self, rec: LineageRecord) -> None:
        os.makedirs(self.dir, exist_ok=True)
        if not rec.timestamp_ms:
            rec.timestamp_ms = int(time.time() * 1000)
        line = json.dumps(asdict(rec), separators=(",", ":"))
        # O_APPEND single-write is atomic for reasonable line sizes on POSIX
        with open(self._path(rec.operation), "a") as f:
            f.write(line + "\n")

    @contextmanager
    def run(self, operation: str, run_id: str | None = None):
        """The lineage of one operator run; see the module docstring."""
        run = LineageRun(self, operation, run_id or new_event_id())
        try:
            yield run
        except Exception as e:
            self.append(
                run.record(status=STATUS_FAILED, error=f"{type(e).__name__}: {e}")
            )
            raise
        for rec in run.units:
            self.append(rec)

    def _rows(self, operation: str) -> list[LineageRecord]:
        try:
            with open(self._path(operation)) as f:
                lines = f.readlines()
        except FileNotFoundError:
            return []
        return [LineageRecord(**json.loads(ln)) for ln in lines if ln.strip()]

    def records(self, operation: str) -> list[LineageRecord]:
        """Outcome rows (``done`` and ``failed``) in append order."""
        return [r for r in self._rows(operation) if r.status != STATUS_STAGED]

    def completed_groups(self, operation: str) -> dict[str, LineageRecord]:
        """group_id -> record for staged or done units whose outputs exist."""
        done: dict[str, LineageRecord] = {}
        for rec in self._rows(operation):
            if rec.status in (STATUS_STAGED, STATUS_DONE) and all(
                os.path.exists(p) for p in rec.files_out
            ):
                done[rec.group_id] = rec
        return done
