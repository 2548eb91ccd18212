"""Savepoint container + job-mode state machine.

Mirrors the reference's savepoint file semantics:

- ``SavePointContainer {jobMode, savePoint, indexName}`` serialized as
  JSON to a single file in the last-run dir, deleted+rewritten per
  batch (jobs-common/.../savepoint/SavePointContainerServiceImpl.java:
  29 filename, :49-57 read, :66-86 write).  Here the write is a tmp +
  ``os.replace`` so it is actually atomic.
- Job modes ``INITIAL_LOAD / INITIAL_RESUME / INCREMENTAL_LOAD``
  resolved from savepoint-file existence + its mode field
  (jobs-common/.../mode/JobMode.java:6-10,
  AbstractJobModeService.java:28-50).
- The default origin offset when no savepoint exists — the reference's
  ``VERY_FIRST_TIMESTAMP`` (LocalDateTimeSavePointContainerService.
  java:14) — maps to ``(epoch, -1)``.

The savepoint is a ``(op_ts, lsn)`` vector: the strict lexicographic
"greater than savepoint" predicate is the resume contract
(SavePointServiceImpl.java:26-31; TimestampJobBatchIterator.java:29-35).

The savepoint here is a copy: the snapshot ledger commits each window's
watermark with its data, and the runner takes the ledger's value when
the ledger is ahead (``runner.CdcJobRunner._resume``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from dataclasses import dataclass, field

INITIAL_LOAD = "INITIAL_LOAD"
INITIAL_RESUME = "INITIAL_RESUME"
INCREMENTAL_LOAD = "INCREMENTAL_LOAD"

SAVEPOINT_FILE = "LastJobRun.json"  # reference: LastJobRun.time
EPOCH_TS = dt.datetime(1970, 1, 1, 0, 0, 0)


@dataclass
class SavePoint:
    ts: dt.datetime = EPOCH_TS
    lsn: int = -1

    def as_tuple(self) -> tuple[dt.datetime, int]:
        return (self.ts, self.lsn)

    def __lt__(self, other: "SavePoint") -> bool:
        return self.as_tuple() < other.as_tuple()


@dataclass
class SavePointContainer:
    job_mode: str = INITIAL_LOAD
    savepoint: SavePoint = field(default_factory=SavePoint)
    table_ident: str = ""
    batch_id: int = -1


class SavePointService:
    """Atomic JSON persistence of the savepoint container."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    @property
    def path(self) -> str:
        return os.path.join(self.state_dir, SAVEPOINT_FILE)

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> SavePointContainer | None:
        if not self.exists():
            return None
        with open(self.path) as f:
            d = json.load(f)
        return SavePointContainer(
            job_mode=d["job_mode"],
            savepoint=SavePoint(
                ts=dt.datetime.fromisoformat(d["savepoint_ts"]),
                lsn=int(d["savepoint_lsn"]),
            ),
            table_ident=d.get("table_ident", ""),
            batch_id=int(d.get("batch_id", -1)),
        )

    def write(self, c: SavePointContainer) -> None:
        tmp = self.path + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "job_mode": c.job_mode,
                    "savepoint_ts": c.savepoint.ts.isoformat(),
                    "savepoint_lsn": c.savepoint.lsn,
                    "table_ident": c.table_ident,
                    "batch_id": c.batch_id,
                },
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


def resolve_job_mode(svc: SavePointService) -> str:
    """Reference AbstractJobModeService.getCurrentJobMode:28-50.

    no savepoint file      -> INITIAL_LOAD
    file, mode=INITIAL_*   -> INITIAL_RESUME  (bulk load was interrupted)
    file, mode=INCREMENTAL -> INCREMENTAL_LOAD
    """
    c = svc.read()
    if c is None:
        return INITIAL_LOAD
    if c.job_mode in (INITIAL_LOAD, INITIAL_RESUME):
        return INITIAL_RESUME
    return INCREMENTAL_LOAD
