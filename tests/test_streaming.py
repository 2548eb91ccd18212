"""Structured Streaming driver: checkpointed tail, crash-resume,
exactly-once under foreachBatch replay (SURVEY.md §2.9 T3)."""

import os

import pytest
from pyspark.sql import functions as F

from cwds_jobs_spark.lineage import read_lineage
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.sources.changes import write_changes_window
from cwds_jobs_spark.streaming.driver import run_tail_once, start_cdc_stream
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable


def _kw(ws, **over):
    kw = dict(
        job_id="sjob",
        changes_dir=ws["changes"],
        table_path=ws["table"],
        checkpoint_dir=ws["checkpoint"],
        lineage_dir=ws["lineage"],
        num_buckets=8,
    )
    kw.update(over)
    return kw


def test_stream_drains_tail_and_matches_oracle(spark, ws):
    ev = synth_changes(spark, 1000, n_convs=30)
    write_changes_window(ev, ws["changes"], "w0")
    run_tail_once(spark, **_kw(ws))
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(ev.collect()))


def test_stream_resume_picks_up_new_files_only(spark, ws):
    w0 = synth_changes(spark, 600, n_convs=20)
    write_changes_window(w0, ws["changes"], "w0")
    run_tail_once(spark, **_kw(ws))
    w1 = synth_changes(spark, 300, n_convs=20, start_lsn=600)
    write_changes_window(w1, ws["changes"], "w1")
    run_tail_once(spark, **_kw(ws))  # same checkpoint → only w1 consumed
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(list(w0.collect()) + list(w1.collect())))
    # the second drain processed exactly the new 300 events
    lin = read_lineage(spark, ws["lineage"])
    assert lin.agg(F.sum("events_applied")).collect()[0][0] == 900


def test_crash_mid_batch_then_restart_replays_inflight(spark, ws):
    """Kill after the MERGE commits but before the checkpoint commit:
    restart re-delivers the same epoch; ledger makes it a no-op."""
    w0 = synth_changes(spark, 500, n_convs=15)
    write_changes_window(w0, ws["changes"], "w0")

    boom = {"armed": True}

    def sabotage(batch_df, epoch_id):
        if boom["armed"]:
            # let the merge run, then die before Spark checkpoints
            from cwds_jobs_spark.operators.merge import merge_apply

            tbl = SnapshotTable.load(spark, ws["table"])
            if not SnapshotTable.exists(ws["table"]):
                raise AssertionError("table must exist")
            merge_apply(
                tbl, batch_df, job_id="sjob", batch_id=epoch_id,
                lineage_dir=ws["lineage"],
            )
            boom["armed"] = False
            raise RuntimeError("crash between MERGE and checkpoint commit")

    # table must exist before sabotage loads it
    from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA

    SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)

    with pytest.raises(RuntimeError):
        run_tail_once(spark, on_batch=sabotage, **_kw(ws))
    # restart: same checkpoint → same epoch id re-delivered → skipped by
    # ledger inside merge_apply; stream completes cleanly
    run_tail_once(spark, **_kw(ws))
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(w0.collect()))
    lin = read_lineage(spark, ws["lineage"])
    assert lin.agg(F.sum("events_applied")).collect()[0][0] == 500


def test_rate_limited_micro_batches(spark, ws):
    """maxFilesPerTrigger=1 → one micro-batch per window dir; ledger
    records montonically increasing epochs."""
    for i in range(3):
        write_changes_window(
            synth_changes(spark, 200, n_convs=10, start_lsn=200 * i),
            ws["changes"],
            f"w{i}",
        )
    run_tail_once(spark, max_files_per_trigger=1, **_kw(ws))
    tbl = SnapshotTable.load(spark, ws["table"])
    assert tbl.committed_batch("sjob") >= 2
    all_ev = synth_changes(spark, 600, n_convs=10).collect()
    # note: three windows with start_lsn 0/200/400 == one 600-event stream
    assert_matches(tbl.read(), replay(all_ev))


def test_stream_maintenance_purges_tombstones(spark, ws):
    """maintenance_every purges watermark-passed tombstones mid-stream
    without changing visible state."""
    import datetime as dt

    from cwds_jobs_spark.operators.merge import TOMBSTONE

    w0 = synth_changes(spark, 400, n_convs=10)  # ~10% deletes
    write_changes_window(w0, ws["changes"], "w0")
    # second window is far in the future: ts_group puts one second per
    # 4 lsn, so jump start_lsn to push op_ts past lateness for w0
    w1 = synth_changes(spark, 400, n_convs=10, start_lsn=4_000_000)
    write_changes_window(w1, ws["changes"], "w1")
    run_tail_once(
        spark,
        **_kw(ws),
        max_files_per_trigger=1,
        maintenance_every=1,
        allowed_lateness=dt.timedelta(minutes=5),
    )
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(list(w0.collect()) + list(w1.collect())))
    internal = tbl.read(include_internal=True)
    # every w0-era tombstone is older than (w1.max_ts - 5min) → purged
    w0_max = max(r.op_ts for r in w0.collect())
    stale = internal.filter(F.col(TOMBSTONE) & (F.col("_op_ts") <= F.lit(w0_max)))
    assert stale.count() == 0
    # w1-era tombstones inside the lateness window survive
    assert internal.filter(F.col(TOMBSTONE)).count() > 0


def test_timed_out_drain_raises_and_stops_the_query(spark, ws, monkeypatch):
    """A drain still running at ``timeout_sec`` is not a success: the
    query is stopped and ``run_tail_once`` raises ``TimeoutError``."""
    from pyspark.sql.streaming import StreamingQuery

    queries = []

    def timed_out(self, timeout=None):
        queries.append(self)
        return False  # what awaitTermination(timeout) returns on timeout

    monkeypatch.setattr(StreamingQuery, "awaitTermination", timed_out)
    with pytest.raises(TimeoutError, match="cdc-sjob"):
        run_tail_once(spark, timeout_sec=5, **_kw(ws))
    assert len(queries) == 1 and not queries[0].isActive
