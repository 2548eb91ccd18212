"""Purge on write: a stream with ``maintenance_every`` drops dead
tombstones inside the merge's LWW fold, so its maintenance pass has
nothing left to rewrite; every other driver keeps every tombstone."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cwds_jobs_spark.operators import merge
from cwds_jobs_spark.operators.merge import TOMBSTONE, VERSION_TS
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.runner import CdcJobRunner, JobConfig
from cwds_jobs_spark.schema import CHANGES_SCHEMA
from cwds_jobs_spark.sources.changes import write_changes_window
from cwds_jobs_spark.streaming.driver import run_tail_once
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable

LATENESS = dt.timedelta(minutes=5)


def _stream(ws, **over):
    kw = dict(
        job_id="pjob",
        changes_dir=ws["changes"],
        table_path=ws["table"],
        checkpoint_dir=ws["checkpoint"],
        lineage_dir=ws["lineage"],
        num_buckets=4,
        max_files_per_trigger=1,
    )
    kw.update(over)
    return kw


def _two_windows(spark, ws):
    """w0 with ~10% deletes, then w1 far enough in the future that every
    w0 tombstone is older than ``w1 high - LATENESS``; one file, so one
    micro-batch, each."""
    w0 = synth_changes(spark, 400, n_convs=10)
    w1 = synth_changes(spark, 400, n_convs=10, start_lsn=4_000_000)
    write_changes_window(w0.coalesce(1), ws["changes"], "w0")
    write_changes_window(w1.coalesce(1), ws["changes"], "w1")
    return list(w0.collect()), list(w1.collect())


def _winning_deletes(events) -> int:
    """Keys whose last event is a delete: the tombstones a table that
    purges nothing must hold."""
    last = {}
    for e in events:
        k = (e.conv_id, e.turn_idx)
        if k not in last or (e.op_ts, e.lsn) > (last[k].op_ts, last[k].lsn):
            last[k] = e
    return sum(e.op == "D" for e in last.values())


def _tombstones(tbl: SnapshotTable):
    return tbl.read(include_internal=True).filter(F.col(TOMBSTONE))


def test_stream_purges_dead_tombstones_while_merging(spark, ws, monkeypatch):
    """The window's merge leaves no tombstone older than
    ``high - allowed_lateness`` in the buckets it rewrote, so the
    maintenance pass after it rewrites no bucket."""
    w0, w1 = _two_windows(spark, ws)
    passes = []
    compact = merge.compact_tombstones

    def recording(table, watermark_ts):
        passes.append(compact(table, watermark_ts))
        return passes[-1]

    monkeypatch.setattr(merge, "compact_tombstones", recording)
    run_tail_once(
        spark, **_stream(ws, maintenance_every=1, allowed_lateness=LATENESS)
    )
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(w0 + w1))
    bound = max((e.op_ts, e.lsn) for e in w1)[0] - LATENESS
    assert passes == [0]  # only epoch 1 runs maintenance; nothing left
    assert _tombstones(tbl).filter(F.col(VERSION_TS) < F.lit(bound)).count() == 0
    # tombstones inside the lateness bound are kept, and the buckets'
    # footer stats describe what was written
    kept = _tombstones(tbl).count()
    assert kept > 0
    assert sum(e["tomb"]["n"] for e in tbl.bucket_meta().values()) == kept


def test_stream_without_maintenance_keeps_every_tombstone(spark, ws):
    w0, w1 = _two_windows(spark, ws)
    run_tail_once(spark, **_stream(ws, allowed_lateness=LATENESS))
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(w0 + w1))
    assert _tombstones(tbl).count() == _winning_deletes(w0 + w1) > 0


def test_batch_runner_keeps_every_tombstone(spark, ws):
    cfg = JobConfig(
        job_id="bjob",
        changes_dir=ws["changes"],
        table_path=ws["table"],
        state_dir=ws["state"],
        num_buckets=4,
    )
    base = synth_changes(spark, 300, n_convs=10)
    write_changes_window(base, ws["changes"], "w0")
    CdcJobRunner(spark, cfg).run()  # initial load
    later = []
    for i, lsn in enumerate((4_000_000, 8_000_000), start=1):
        w = synth_changes(spark, 300, n_convs=10, start_lsn=lsn, seed=i)
        write_changes_window(w, ws["changes"], f"w{i}")
        later += w.collect()
    CdcJobRunner(spark, cfg).run()  # incremental: two far-apart windows
    tbl = SnapshotTable.load(spark, ws["table"])
    # the initial load drops deletes, so only the later windows leave
    # tombstones; their keys' winners all come from those windows
    assert _tombstones(tbl).count() == _winning_deletes(later) > 0


def test_stale_insert_inside_lateness_loses_to_kept_tombstone(spark, ws):
    """A tombstone newer than ``high - allowed_lateness`` survives the
    purging merge, and a late insert older than it stays deleted."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(op, minutes, lsn, text=None):
        return ("c1", 0, op, t0 + dt.timedelta(minutes=minutes), lsn,
                None if op == "D" else "user", text, None, None)

    w0 = [ev("I", 0, 1, "first"), ev("D", 2, 2)]
    # the stale insert predates the tombstone; the filler event moves
    # the window's high to t0+4m, so the purge bound is t0-1m
    w1 = [ev("I", 1, 3, "stale"),
          ("c2", 0, "I", t0 + dt.timedelta(minutes=4), 4, "user", "x", None, None)]
    for name, rows in (("w0", w0), ("w1", w1)):
        write_changes_window(
            spark.createDataFrame(rows, CHANGES_SCHEMA), ws["changes"], name
        )
    run_tail_once(
        spark, **_stream(ws, maintenance_every=1, allowed_lateness=LATENESS)
    )
    tbl = SnapshotTable.load(spark, ws["table"])
    assert [r.conv_id for r in tbl.read().collect()] == ["c2"]
    assert [r.conv_id for r in _tombstones(tbl).collect()] == ["c1"]
