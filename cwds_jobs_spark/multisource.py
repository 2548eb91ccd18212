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
Perry/Cognito side) become snapshot DataFrames via ``sources.paged``
and union in the same way.

The vector lives only in the snapshot ledger, committed atomically with
the data (``merge_apply(watermark={source: (op_ts, lsn)})``), so no
crash can fall between the table commit and a savepoint write.  A
source whose read/plan fails, or that has nothing new, keeps its
committed entry — the next run replays it (the MERGE absorbs any
overlap, so at-least-once per source is still exactly-once table
state).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.sources.changes import read_changes, source_high_watermark
from cwds_jobs_spark.state import EPOCH_TS, SavePoint
from cwds_jobs_spark.table.snapshot import SnapshotTable


def committed_vector(table: SnapshotTable, job_id: str) -> dict[str, SavePoint]:
    """The per-source savepoint vector ``job_id`` last committed to
    ``table``'s ledger (empty before its first commit)."""
    wm = table.committed_watermark(job_id)
    if wm is None:
        return {}
    if "sources" not in wm:
        # cross-mode job_id reuse: a scalar watermark says nothing about
        # which source each event came from, and this driver filters
        # every source's read by its own entry
        raise ValueError(
            f"job_id {job_id!r} has a scalar watermark in the table ledger; "
            "use a fresh job_id for multi-source batch runs"
        )
    return {
        name: SavePoint(ts=dt.datetime.fromisoformat(w["ts"]), lsn=int(w["lsn"]))
        for name, w in wm["sources"].items()
    }


def run_multisource_incremental(
    spark: SparkSession,
    table: SnapshotTable,
    sources: dict[str, str],
    *,
    job_id: str,
    batch_id: int,
    lineage_dir: str | None = None,
    fail_injector=None,
) -> dict:
    """One union window across ``sources`` (name -> changes_dir).

    Per source: read events strictly after its committed savepoint,
    bounded by its pre-run high watermark.  All healthy sources are
    unioned and applied in one MERGE, which commits the vector with
    the healthy sources' entries advanced to their pre-run watermarks.
    A replayed ``batch_id`` (already in the ledger) applies nothing.
    ``fail_injector`` (source_name -> None, raising to simulate failure)
    exists for the partial-failure test, standing in for the
    reference's fallible REST side.
    """
    if batch_id <= table.committed_batch(job_id):
        return {"applied_sources": [], "failed_sources": [], "batch_id": batch_id}
    vec = committed_vector(table, job_id)
    windows: list[DataFrame] = []
    advanced: dict[str, SavePoint] = {}
    failed: list[str] = []

    for name, cdir in sources.items():
        sp = vec.get(name, SavePoint(ts=EPOCH_TS, lsn=-1))
        try:
            if fail_injector is not None:
                fail_injector(name)
            hw = source_high_watermark(read_changes(spark, cdir))
            if hw is None or not (sp < hw):
                continue  # nothing new; savepoint stays
            windows.append(read_changes(spark, cdir, after=sp, until=hw))
            advanced[name] = hw
        except Exception:
            # rollback semantics: entry untouched -> replayed next run
            # (AbstractCapUsersJob.java:39-49)
            failed.append(name)

    if windows:
        union = windows[0]
        for w in windows[1:]:
            union = union.unionByName(w, allowMissingColumns=True)
        merge_apply(
            table,
            union,
            job_id=job_id,
            batch_id=batch_id,
            lineage_dir=lineage_dir,
            watermark={name: sp.as_tuple() for name, sp in {**vec, **advanced}.items()},
        )
    return {
        "applied_sources": sorted(advanced),
        "failed_sources": sorted(failed),
        "batch_id": batch_id,
    }
