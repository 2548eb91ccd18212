"""Job orchestration: initial load → finalizer cutover → incremental tail.

The reference's lifecycle (SURVEY.md §3.1):

- mode resolved from the savepoint file *before* wiring
  (jobs-common/.../mode/AbstractJobModeService.java:28-50);
- INITIAL_LOAD bulk-loads the full snapshot **excluding deletes**
  (jobs-facilities-cws/.../QueryConstants.java:42,50);
- a finalizer then sets the savepoint to the source's
  ``max(replication ts)`` — not wall clock — and flips the mode to
  INCREMENTAL_LOAD (CwsInitialJobModeFinalizer.java:34-45,
  jobs-common/.../mode/LocalDateTimeJobModeFinalizer.java:30-41);
- INCREMENTAL_LOAD applies windows strictly after the savepoint,
  committing the savepoint only after a durable write
  (jobs-common/.../batch/BatchProcessor.java:43-67);
- INITIAL_RESUME continues an interrupted bulk load from the
  savepoint into the same target
  (jobs-common/.../inject/ElasticSearchModule.java:45-47).

The snapshot ledger records each window's batch id and high watermark
in the same atomic commit as its data, and it rules the resume
position: an incremental run reconciles the state file with it once,
before the first window is planned (``CdcJobRunner._resume``).

Batch-mode driver; the Structured Streaming equivalent (checkpoint
instead of explicit savepoint file) lives in ``streaming.driver``.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cwds_jobs_spark import state as st
from cwds_jobs_spark.lineage import probe_window
from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.sources.changes import read_changes, source_high_watermark
from cwds_jobs_spark.table.snapshot import CommitConflict, SnapshotTable


@dataclass
class JobConfig:
    job_id: str
    changes_dir: str
    table_path: str
    state_dir: str
    lineage_dir: str | None = None
    num_buckets: int = 32
    # batch sizing for the incremental loop: events per applied window.
    # Analog of the reference batchSize knob (MultiThreadConfiguration.
    # java:8-11) — here it only bounds per-MERGE memory, not correctness.
    max_events_per_window: int | None = None


class CdcJobRunner:
    """Savepoint-resumable CDC apply job (batch-driver flavor)."""

    def __init__(self, spark: SparkSession, cfg: JobConfig):
        self.spark = spark
        self.cfg = cfg
        self.sp_svc = st.SavePointService(cfg.state_dir)

    # -------------- target table --------------

    def table(self) -> SnapshotTable:
        return SnapshotTable.open(
            self.spark, self.cfg.table_path, TRANSCRIPTS_SCHEMA, self.cfg.num_buckets
        )

    # -------------- lifecycle --------------

    def run(self) -> dict:
        """Resolve mode and run one job cycle to completion."""
        mode = st.resolve_job_mode(self.sp_svc)
        if mode in (st.INITIAL_LOAD, st.INITIAL_RESUME):
            return self.run_initial(resume=(mode == st.INITIAL_RESUME))
        return self.run_incremental()

    def run_initial(self, resume: bool = False) -> dict:
        """Bulk backfill (excluding D), then cutover finalizer.

        Spark makes the reference's keyset-paginated initial iterators
        (jobs-facilities-lis/.../LisInitialModeIterator.java:38-59)
        unnecessary: the snapshot read is one partitioned scan and the
        LWW+MERGE collapses it to final state in a single pass.
        Resume applies only events strictly after the frozen savepoint.
        """
        tbl = self.table()
        container = self.sp_svc.read() or st.SavePointContainer(
            job_mode=st.INITIAL_LOAD, table_ident=self.cfg.table_path
        )
        after = container.savepoint if resume else None
        df = read_changes(self.spark, self.cfg.changes_dir, after=after)
        batch_id = container.batch_id + 1
        stats = merge_apply(
            tbl,
            df,
            job_id=self.cfg.job_id,
            batch_id=batch_id,
            lineage_dir=self.cfg.lineage_dir,
            drop_deletes=True,  # reference QueryConstants.java:42,50
        )
        # persist mid-load savepoint BEFORE finalizer: a crash between
        # merge and finalize leaves mode=INITIAL_* → INITIAL_RESUME
        if stats.get("high") is not None:
            container.savepoint = st.SavePoint(*stats["high"])
        container.job_mode = st.INITIAL_LOAD
        container.batch_id = batch_id
        self.sp_svc.write(container)
        self._finalize_initial(container)
        return {"mode": st.INITIAL_RESUME if resume else st.INITIAL_LOAD, **stats}

    def _finalize_initial(self, container: st.SavePointContainer) -> None:
        """Cutover: savepoint := source max (op_ts, lsn); mode := INCREMENTAL.

        Reference: CwsInitialJobModeFinalizer.java:34-45 — the new
        savepoint is the *source's* max replication timestamp, so any
        event that raced in during the bulk load is replayed by the
        first incremental window (idempotent MERGE absorbs it).
        """
        high = source_high_watermark(read_changes(self.spark, self.cfg.changes_dir))
        if high is not None:
            container.savepoint = high
        container.job_mode = st.INCREMENTAL_LOAD
        self.sp_svc.write(container)

    def _bound_window(self, pending, cap: int):
        """Bound a window to ~``cap`` events via a TIMESTAMP-BOUNDARY
        probe, not a global sort.

        The previous implementation (``orderBy(op_ts, lsn).limit(cap)``)
        ran a global TakeOrdered over the entire un-applied tail for
        EVERY capped window — O(windows × tail) re-scan at 10^10 scale.
        Instead, probe the op_ts quantile at ``cap/total`` (two cheap
        column-pruned jobs: a metadata-backed count and an
        approxQuantile sketch) and cut the window at that timestamp.
        This mirrors the reference's O2/O3 timestamp-boundary probes
        (SavePointServiceImpl window queries): windows align to op_ts
        boundaries, equal-timestamp event groups are never split (so a
        single hot timestamp larger than ``cap`` is applied whole,
        exactly like the reference's equal-timestamp batch handling).
        ``cap`` bounds per-MERGE memory approximately; correctness
        never depends on the exact cut because apply is idempotent LWW.
        """
        total = pending.count()
        if total <= cap:
            return pending
        frac = cap / total
        boundary = pending.select(
            F.col("op_ts").cast("double").alias("t")
        ).stat.approxQuantile("t", [frac], 0.01)[0]
        return pending.filter(F.col("op_ts").cast("double") <= boundary)

    def _resume(self, tbl: SnapshotTable) -> st.SavePointContainer:
        """The state file's container, reconciled with the table ledger.

        A crash after a table commit but before its savepoint write
        leaves the ledger ahead of the state file; the savepoint and
        ``batch_id`` then come from the ledger, whose watermark was
        committed with the window (a rerun's recomputed window would
        not reproduce it: new tail files, a different capped cut).  The
        state file is rewritten only when this changes it.
        """
        container = self.sp_svc.read()
        assert container is not None, "incremental run requires a savepoint"
        committed = tbl.committed_batch(self.cfg.job_id)
        if committed <= container.batch_id:
            return container
        wm = tbl.committed_watermark(self.cfg.job_id)
        if wm is not None and "sources" in wm:
            # cross-mode job_id reuse: the ledger carries a multi-source
            # VECTOR watermark, and there is no sound scalar savepoint
            # for a single-directory tail — refuse instead of guessing
            raise ValueError(
                f"job_id {self.cfg.job_id!r} has a multi-source vector "
                "watermark in the table ledger; resume it via streaming."
                "driver.start_cdc_stream with a dict of tails (or use a fresh "
                "job_id for single-source batch runs)"
            )
        if wm is not None:
            container.savepoint = st.SavePoint(
                ts=dt.datetime.fromisoformat(wm["ts"]), lsn=int(wm["lsn"])
            )
        # else: the ledger predates watermark recording — keep the
        # savepoint; the next batch re-applies the overlap idempotently
        container.batch_id = committed
        self.sp_svc.write(container)
        return container

    def run_incremental(self) -> dict:
        """Apply all pending change windows strictly after the savepoint.

        Loop shape mirrors BatchProcessor.processBatches
        (jobs-common/.../batch/BatchProcessor.java:43-54): window →
        merge → savepoint commit, until the tail is drained.  The
        savepoint file is written only after the table commit, and the
        resume position is reconciled with the ledger once, before the
        first window is planned (:meth:`_resume`) — effectively-once, T3.
        """
        from cwds_jobs_spark.progress import ProgressReporter

        from cwds_jobs_spark.sources.file_stats import (
            collect_file_stats,
            plan_window_boundaries,
        )

        tbl = self.table()
        container = self._resume(tbl)
        total = {"events": 0, "windows": 0, "mode": st.INCREMENTAL_LOAD}
        reporter = ProgressReporter()
        cap = self.cfg.max_events_per_window
        # all window boundaries for the drain planned up front from
        # parquet FOOTER stats (zero data scans); None = stats
        # unavailable → per-window quantile probe fallback
        boundaries: list | None = None
        if cap:
            boundaries = plan_window_boundaries(
                collect_file_stats(self.spark, self.cfg.changes_dir),
                container.savepoint.ts,
                cap,
            )
        while True:
            pending = read_changes(
                self.spark, self.cfg.changes_dir, after=container.savepoint
            )
            planned = False
            if cap:
                if boundaries:
                    pending = pending.filter(
                        F.col("op_ts") <= F.lit(boundaries.pop(0))
                    )
                    planned = True
                elif boundaries is None:
                    pending = self._bound_window(pending, cap)
                # boundaries == []: planned windows drained — one
                # uncapped pass picks up files that arrived mid-drain
                # (usually empty → terminates)
            window = pending.persist()
            try:
                # the window's one bookkeeping pass: watermark, count,
                # lineage rows and affected buckets; merge_apply reuses it
                probe = probe_window(window, tbl.bucket_of())
                if probe.high is None:
                    if planned:
                        # an empty PLANNED window (a footer-stats
                        # misestimate) is not end-of-tail: go on to the
                        # next boundary / the final uncapped pass
                        continue
                    break  # empty batch terminates (BatchProcessor.java:46-51)
                batch_id = container.batch_id + 1
                stats = merge_apply(
                    tbl,
                    window,
                    job_id=self.cfg.job_id,
                    batch_id=batch_id,
                    lineage_dir=self.cfg.lineage_dir,
                    watermark=probe.high,
                    probe=probe,
                )
                if stats["skipped"]:
                    # _resume put batch_id past the ledger, so another
                    # writer is committing under this job_id
                    raise CommitConflict(
                        f"job_id {self.cfg.job_id!r}: batch {batch_id} was "
                        "committed by another writer"
                    )
                container.savepoint = st.SavePoint(*probe.high)
                container.batch_id = batch_id
                self.sp_svc.write(container)
                # events = rows in this window, from the probe (merge's
                # bucket_rows stat counts ALL rows in rewritten buckets,
                # which over-counts on a populated table)
                total["events"] += probe.events
                total["windows"] += 1
                reporter.update(probe.events)
            finally:
                window.unpersist()
            if not cap:
                break  # single full window when uncapped
        total["events_per_sec"] = reporter.snapshot()["events_per_sec"]
        return total


def ensure_dirs(cfg: JobConfig) -> None:
    os.makedirs(cfg.changes_dir, exist_ok=True)
    os.makedirs(cfg.state_dir, exist_ok=True)
    if cfg.lineage_dir:
        os.makedirs(cfg.lineage_dir, exist_ok=True)
