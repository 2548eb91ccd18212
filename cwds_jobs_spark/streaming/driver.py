"""Structured Streaming CDC driver: readStream → foreachBatch(MERGE).

The production tail (SURVEY.md §1.4 chose design (a)): the changes
directory is consumed as a file stream; Spark's checkpoint tracks
consumed files/offsets — the durable savepoint (reference
SavePointContainerServiceImpl.java analog, but transactional and
per-source).  Each micro-batch runs the same ``merge_apply`` as the
batch runner:

- ``foreachBatch`` is at-least-once → the snapshot ledger keyed by
  ``(job_id, epoch_id)`` makes the table commit exactly-once (T3);
- lineage rows are keyed ``job=<id>/batch=<epoch>`` and overwritten on
  replay — never double-counted;
- kill-and-restart from the same checkpoint replays only the
  in-flight batch; final table state is unchanged (tested in
  tests/test_streaming.py, the reference crash-resume testcase12
  analog, JobMainTest.java:167-189).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from cwds_jobs_spark.lineage import probe_window
from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.sources.changes import stream_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable


def _write_progress(lineage_dir: str, job_id: str, snap: dict) -> None:
    """Atomic rate/ETA sidecar next to the lineage rows (C4 surface)."""
    import json
    import os
    import uuid

    d = os.path.join(lineage_dir, f"job={job_id}")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".progress.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        json.dump(snap, f)
        f.flush()
        os.fsync(f.fileno())
    # underscore prefix: the sidecar lives inside a parquet dataset
    # dir, and Spark's file listing skips only `_`/`.`-prefixed names —
    # an unprefixed name breaks every later lineage read
    os.replace(tmp, os.path.join(d, "_progress.json"))


def read_progress(lineage_dir: str, job_id: str) -> dict | None:
    """The latest progress snapshot for a job, or None."""
    import json
    import os

    p = os.path.join(lineage_dir, f"job={job_id}", "_progress.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def start_cdc_stream(
    spark: SparkSession,
    *,
    job_id: str,
    changes_dir: str,
    table_path: str,
    checkpoint_dir: str,
    lineage_dir: str | None = None,
    num_buckets: int = 32,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    on_batch=None,
    maintenance_every: int | None = None,
    allowed_lateness: "dt.timedelta | None" = None,
    reporter=None,
    total_expected: int | None = None,
) -> StreamingQuery:
    """Start (or resume, if the checkpoint exists) the CDC apply stream.

    ``available_now=True`` drains the current tail then stops — the
    batch-job flavor with streaming bookkeeping (used by tests and the
    bench).  ``on_batch`` is a hook for fault-injection tests
    (reference BrokenTestEntityService.java:10-25 analog).

    ``maintenance_every=K`` purges tombstones whose version is older
    than ``max(op_ts) - allowed_lateness`` of the batch (default
    lateness one hour; a purged tombstone could otherwise be
    resurrected by a late stale insert, so the bound must match the
    source's out-of-orderness contract — same role as
    ``withWatermark``'s delay).  Every batch's merge drops them from
    the buckets it rewrites (``merge_apply(purge_before=…)``).  After
    every K-th applied batch, maintenance purges the buckets no merge
    rewrote — a metadata-only check when every bucket was — compacts
    buckets fragmented past 4 file groups and vacuums old commits.
    Each purge is an atomic snapshot commit, so a crash
    mid-maintenance is invisible to readers.  Without
    ``maintenance_every`` every tombstone is kept.

    Progress (reference C4, JobTimeReport/TimeLeftEstimationProvider
    analog) is ON BY DEFAULT when ``lineage_dir`` is set: each applied
    batch feeds a :class:`~cwds_jobs_spark.progress.ProgressReporter`
    (pass ``total_expected`` for ETA, or a pre-built ``reporter``) and
    the snapshot — events, events/sec, ETA — is written atomically to
    ``<lineage_dir>/job=<job_id>/_progress.json`` next to the lineage
    rows.  The feed is synchronous with the batch commit (not the
    async StreamingQueryListener path, which remains available via
    ``progress.attach_streaming_progress`` for external monitors), so
    the file never lags the table state.
    """
    from cwds_jobs_spark.progress import ProgressReporter

    reporter = reporter or ProgressReporter(total_expected=total_expected)
    if SnapshotTable.exists(table_path):
        table = SnapshotTable.load(spark, table_path)
    else:
        table = SnapshotTable.create(
            spark, table_path, TRANSCRIPTS_SCHEMA, num_buckets=num_buckets
        )

    src = stream_changes(
        spark, changes_dir, schema=schema, max_files_per_trigger=max_files_per_trigger
    )
    lateness = allowed_lateness or dt.timedelta(hours=1)

    def apply_batch(batch_df, epoch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_df, epoch_id)
        # persist: the window probe and the merge are two passes over
        # the batch — caching guarantees both see the same rows
        # (determinism contract, see merge_apply docstring) and stops
        # the file source being scanned twice per micro-batch
        batch_df = batch_df.persist()
        try:
            probe = probe_window(batch_df, table.bucket_of())
            # the bound maintenance purges below, applied while the merge
            # rewrites the window's buckets anyway
            purge_before = (
                probe.high[0] - lateness
                if maintenance_every and probe.high is not None
                else None
            )
            stats = merge_apply(
                table,
                batch_df,
                job_id=job_id,
                batch_id=epoch_id,
                lineage_dir=lineage_dir,
                probe=probe,
                purge_before=purge_before,
            )
            if lineage_dir and not stats.get("skipped"):
                reporter.update(stats.get("events") or 0)
                _write_progress(lineage_dir, job_id, reporter.snapshot())
            if (
                maintenance_every
                and not stats.get("skipped")
                and epoch_id > 0
                and epoch_id % maintenance_every == 0
            ):
                from cwds_jobs_spark.operators.merge import compact_tombstones
                from cwds_jobs_spark.table.maintenance import (
                    compact_buckets,
                    vacuum,
                )

                if purge_before is not None:
                    compact_tombstones(table, purge_before)
                compact_buckets(table, max_files_per_bucket=4)
                # GC superseded commit dirs so a long-running tail's
                # disk footprint stays bounded (ElasticsearchService.
                # java:168-179 orphan-index cleanup analog)
                vacuum(table, keep_snapshots=4)
        finally:
            batch_df.unpersist()

    writer = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"cdc-{job_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_multisource_cdc_stream(
    spark: SparkSession,
    *,
    job_id: str,
    sources: dict[str, str],
    table_path: str,
    checkpoint_dir: str,
    lineage_dir: str | None = None,
    num_buckets: int = 32,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = False,
    on_batch=None,
) -> StreamingQuery:
    """Union of several change tails in ONE streaming query.

    The streaming shape of the batch savepoint vector
    (``multisource.run_multisource_incremental``; reference
    AbstractCapUsersJob.java:30-50): each source directory becomes one
    union leg of a single ``readStream``, and Spark's checkpoint
    tracks every leg's consumed files INDEPENDENTLY in the offset log
    — a crash mid-drain resumes both tails with neither skipped,
    without a hand-rolled vector file.

    Each leg is tagged with a ``_source`` column.  ``foreachBatch``
    probes the persisted batch once with ``_source`` in the window
    probe's grouping, which gives the lineage rows, affected buckets
    and count as for one source plus the per-source high watermarks,
    and records those watermarks atomically
    WITH the ledger entry — per-source watermark columns in the
    ledger, readable via ``SnapshotTable.committed_watermark`` as
    ``{"sources": {name: {"ts", "lsn"}}}``.

    Exactly-once is unchanged: at-least-once ``foreachBatch`` × the
    ``(job_id, epoch_id)`` ledger inside ``merge_apply``; a replayed
    epoch is a table no-op and leaves the recorded vector put.

    Schema evolution contract (reference analog: per-job index mapping
    swap, ElasticsearchService.java:74-91): a file stream's schema is
    FIXED at query start, so a column added to one source's tail
    mid-stream is invisible until restart — same as the single-source
    path.  On restart, pass the evolved ``schema``: every leg reads
    with it (parquet null-fills files that predate the column, so a
    LAGGING source keeps working unchanged), the union is widened with
    ``allowMissingColumns=True`` as defense-in-depth, and the first
    merged batch evolves the table schema exactly like the batch path
    (``tests/test_schema_evolution.py``); old buckets are not
    rewritten.  Tested in ``tests/test_multisource_streaming.py``
    (two-source evolution: one source evolves, the other lags).
    """
    if SnapshotTable.exists(table_path):
        table = SnapshotTable.load(spark, table_path)
    else:
        table = SnapshotTable.create(
            spark, table_path, TRANSCRIPTS_SCHEMA, num_buckets=num_buckets
        )

    from pyspark.sql import functions as F

    legs = [
        stream_changes(
            spark, cdir, schema=schema, max_files_per_trigger=max_files_per_trigger
        ).withColumn("_source", F.lit(name))
        for name, cdir in sources.items()
    ]
    src = legs[0]
    for leg in legs[1:]:
        # allowMissingColumns: legs normally share the passed schema,
        # but if a caller wires per-source schemas (or a future reader
        # infers them), a leg missing a newly added column must widen
        # with nulls — the CDC union contract — not fail the query
        src = src.unionByName(leg, allowMissingColumns=True)

    def apply_batch(batch_df, epoch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_df, epoch_id)
        batch_df = batch_df.persist()
        try:
            # one aggregate: lineage rows, buckets, count and the
            # per-source high watermarks
            probe = probe_window(batch_df, table.bucket_of(), source_col="_source")
            vector = dict(probe.sources)
            # a micro-batch may hold files of ONE source only (the
            # trigger's file cap applies per leg) — merge with the
            # committed vector so every source's entry stays present
            # and monotone across batches
            prev = table.committed_watermark(job_id) or {}
            if "sources" in prev:
                prev_sources = prev["sources"]
            elif "ts" in prev:
                # cross-mode job_id reuse: a prior batch/single-stream
                # run committed a scalar {ts, lsn} watermark.  Migrate
                # it as a FLOOR for every source (everything up to it
                # was applied, whichever tail it came from) instead of
                # silently discarding it and restarting the vector
                # from scratch.
                prev_sources = {
                    name: {"ts": prev["ts"], "lsn": prev["lsn"]}
                    for name in sources
                }
            else:
                prev_sources = {}
            for name, w in prev_sources.items():
                t = (dt.datetime.fromisoformat(w["ts"]), int(w["lsn"]))
                if name not in vector or vector[name] < t:
                    vector[name] = t
            merge_apply(
                table,
                batch_df.drop("_source"),
                job_id=job_id,
                batch_id=epoch_id,
                lineage_dir=lineage_dir,
                watermark=vector or None,
                probe=probe,
            )
        finally:
            batch_df.unpersist()

    writer = (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"cdc-multi-{job_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_multisource_tail_once(
    spark: SparkSession, timeout_sec: float = 300.0, **kw
) -> None:
    """Drain all sources' pending tails (availableNow) and wait."""
    q = start_multisource_cdc_stream(spark, available_now=True, **kw)
    _await(q, timeout_sec)


def run_tail_once(spark: SparkSession, timeout_sec: float = 300.0, **kw) -> None:
    """Drain the pending tail (availableNow) and wait for completion."""
    q = start_cdc_stream(spark, available_now=True, **kw)
    _await(q, timeout_sec)


def _await(q: StreamingQuery, timeout_sec: float) -> None:
    err = None
    try:
        q.awaitTermination(timeout_sec)
    except Exception as e:  # StreamingQueryException → uniform RuntimeError
        err = e
    finally:
        if q.isActive:
            q.stop()
    if err is None and q.exception() is not None:
        err = q.exception()
    if err is not None:
        raise RuntimeError(str(err))
