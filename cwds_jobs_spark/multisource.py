"""Multi-source change tails: savepoint vector + per-source rollback.

Reference semantics (SURVEY.md §2.9 T6, §2.7 U1): the cap-users job
tracks one savepoint timestamp per source table
(jobs-cap-users/.../savepoint/CapUsersSavePoint.java:9-47), snapshots
the vector *before* the run from each source's ``max(lastUpdatedTime)``
(CapUsersSavePointService.java:39-47, AbstractCapUsersJob.java:20-28),
unions the per-source change streams into one sink stream
(CapUsersIncrementalUpdatesProcessor.java:26-42), and on partial
failure rolls back only the failed side's timestamps so nothing is
skipped (AbstractCapUsersJob.java:30-50).

Here each source is a changes directory with its own ``(op_ts, lsn)``
savepoint; events are unioned by name and applied through the same
idempotent MERGE.  REST-style paginated sources (the reference's
Perry/Cognito side) become snapshot DataFrames via
``sources.paged`` and union in the same way.  A source whose read/plan fails contributes nothing
to the window and its savepoint entry stays put — the next run replays
it (the MERGE absorbs any overlap, so at-least-once per source is
still exactly-once table state).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.sources.changes import read_changes
from cwds_jobs_spark.state import EPOCH_TS, SavePoint
from cwds_jobs_spark.table.snapshot import SnapshotTable

VECTOR_FILE = "SavePointVector.json"


class SavePointVectorService:
    """Atomic JSON persistence of {source_name: SavePoint}."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, VECTOR_FILE)

    def read(self) -> dict[str, SavePoint]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            d = json.load(f)
        return {
            k: SavePoint(ts=dt.datetime.fromisoformat(v["ts"]), lsn=int(v["lsn"]))
            for k, v in d.items()
        }

    def write(self, vec: dict[str, SavePoint]) -> None:
        tmp = self.path + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {k: {"ts": v.ts.isoformat(), "lsn": v.lsn} for k, v in vec.items()},
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


def source_high_watermark(df: DataFrame) -> SavePoint | None:
    """The source's current max (op_ts, lsn) — the pre-run snapshot
    value (reference CapUsersSavePointService.java:39-47)."""
    row = df.agg(F.max(F.struct(F.col("op_ts"), F.col("lsn"))).alias("m")).collect()[0]["m"]
    if row is None:
        return None
    return SavePoint(ts=row["op_ts"], lsn=row["lsn"])


def run_multisource_incremental(
    spark: SparkSession,
    table: SnapshotTable,
    sources: dict[str, str],
    state_dir: str,
    *,
    job_id: str,
    batch_id: int,
    lineage_dir: str | None = None,
    fail_injector=None,
) -> dict:
    """One union window across ``sources`` (name -> changes_dir).

    Per source: read events strictly after its savepoint, bounded by
    its pre-run high watermark.  All healthy sources are unioned and
    applied in one MERGE; the vector advances only the healthy
    sources' entries to their snapshot watermarks.  ``fail_injector``
    (source_name -> None, raising to simulate failure) exists for the
    partial-failure test, standing in for the reference's fallible
    REST side.
    """
    svc = SavePointVectorService(state_dir)
    vec = svc.read()
    windows: list[DataFrame] = []
    advanced: dict[str, SavePoint] = {}
    failed: list[str] = []

    for name, cdir in sources.items():
        sp = vec.get(name, SavePoint(ts=EPOCH_TS, lsn=-1))
        try:
            if fail_injector is not None:
                fail_injector(name)
            full = read_changes(spark, cdir)
            hw = source_high_watermark(full)
            if hw is None or not (sp < hw):
                continue  # nothing new; savepoint stays
            pending = read_changes(spark, cdir, after=sp, until=hw)
            windows.append(pending)
            advanced[name] = hw
        except Exception:
            # rollback semantics: entry untouched -> replayed next run
            # (AbstractCapUsersJob.java:39-49)
            failed.append(name)

    if windows:
        union = windows[0]
        for w in windows[1:]:
            union = union.unionByName(w, allowMissingColumns=True)
        stats = merge_apply(
            table, union, job_id=job_id, batch_id=batch_id, lineage_dir=lineage_dir
        )
        if stats.get("skipped"):
            # replayed batch_id: the table ledger already holds this
            # batch (a prior run committed the table, then crashed
            # before the vector write).  The freshly recomputed high
            # watermarks may cover events that arrived AFTER the
            # original commit — advancing to them would skip those
            # events forever.  Keep the vector put; the caller's next
            # batch_id applies the overlap idempotently.
            advanced = {}
    # vector commit AFTER the table commit (savepoint-after-durable-write,
    # BatchProcessor.java:56-67)
    for name, hw in advanced.items():
        vec[name] = hw
    svc.write(vec)
    return {
        "applied_sources": sorted(advanced),
        "failed_sources": sorted(failed),
        "batch_id": batch_id,
    }
