"""Streaming multi-source tails: two change directories unioned into
one checkpointed query (reference AbstractCapUsersJob.java:30-50 in
the streaming driver's shape — SURVEY.md §2.9 T6).  The file-source
checkpoint tracks each union leg's offsets independently, so a crash
mid-drain resumes BOTH tails with neither source skipped; per-source
high watermarks land in the snapshot ledger with the commit."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from cwds_jobs_spark.lineage import read_lineage
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.sources.changes import write_changes_window
from cwds_jobs_spark.streaming.driver import run_tail_once, start_cdc_stream
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable


@pytest.fixture
def dirs(ws):
    a = os.path.join(ws["changes"], "src_a")
    b = os.path.join(ws["changes"], "src_b")
    os.makedirs(a), os.makedirs(b)
    return {"a": a, "b": b}


def _kw(ws, dirs, **over):
    kw = dict(
        job_id="msjob",
        changes_dir=dirs,
        table_path=ws["table"],
        checkpoint_dir=ws["checkpoint"],
        lineage_dir=ws["lineage"],
        num_buckets=8,
    )
    kw.update(over)
    return kw


def test_two_tails_one_query_matches_replay(spark, ws, dirs):
    # disjoint LSN ranges: both sources feed one logical change stream
    wa = synth_changes(spark, 400, n_convs=12)
    wb = synth_changes(spark, 300, n_convs=12, start_lsn=400)
    write_changes_window(wa, dirs["a"], "w0")
    write_changes_window(wb, dirs["b"], "w0")
    run_tail_once(spark, **_kw(ws, dirs))

    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(list(wa.collect()) + list(wb.collect())))
    # per-source watermark vector recorded with the ledger commit
    wm = tbl.committed_watermark("msjob")["sources"]
    ha = max(wa.collect(), key=lambda e: (e.op_ts, e.lsn))
    hb = max(wb.collect(), key=lambda e: (e.op_ts, e.lsn))
    assert wm["a"] == {"ts": ha.op_ts.isoformat(), "lsn": ha.lsn}
    assert wm["b"] == {"ts": hb.op_ts.isoformat(), "lsn": hb.lsn}


def test_several_tails_refuse_maintenance(spark, ws, dirs):
    """The purge bound over a union is anchored at the fastest tail, so
    several tails refuse ``maintenance_every`` before the query starts."""
    with pytest.raises(ValueError, match="maintenance_every"):
        start_cdc_stream(spark, maintenance_every=1, **_kw(ws, dirs))
    assert not os.path.exists(ws["checkpoint"])
    assert not os.path.exists(ws["table"])


def test_kill_mid_drain_restart_skips_neither_source(spark, ws, dirs):
    """Three windows per source, one file per micro-batch; the query is
    killed after the first applied batch.  The restart must drain the
    remainder of BOTH tails — the checkpoint's per-leg offsets are the
    savepoint vector, and the replayed in-flight epoch is a ledger
    no-op."""
    all_events = []
    for i in range(3):
        wa = synth_changes(spark, 100, n_convs=10, start_lsn=600 * i)
        wb = synth_changes(spark, 100, n_convs=10, start_lsn=600 * i + 300)
        all_events += list(wa.collect()) + list(wb.collect())
        write_changes_window(wa, dirs["a"], f"w{i}")
        write_changes_window(wb, dirs["b"], f"w{i}")

    state = {"applied": 0}

    def die_after_first(batch_df, epoch_id):
        if state["applied"] >= 1:
            raise RuntimeError("killed mid-drain")
        state["applied"] += 1

    with pytest.raises(RuntimeError):
        run_tail_once(
            spark, max_files_per_trigger=1, on_batch=die_after_first,
            **_kw(ws, dirs),
        )
    tbl = SnapshotTable.load(spark, ws["table"])
    assert tbl.read().count() < len(replay(all_events))  # genuinely mid-drain

    run_tail_once(spark, max_files_per_trigger=1, **_kw(ws, dirs))
    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(tbl.read(), replay(all_events))
    # every event from both sources applied exactly once
    lin = read_lineage(spark, ws["lineage"])
    assert lin.agg(F.sum("events_applied")).collect()[0][0] == 600
    # the final vector covers both sources at their true maxima
    wm = tbl.committed_watermark("msjob")["sources"]
    hi = {s: max(
        (e for e in all_events if (s == "b") == (300 <= e.lsn % 600)),
        key=lambda e: (e.op_ts, e.lsn),
    ) for s in ("a", "b")}
    assert wm["a"]["lsn"] == hi["a"].lsn and wm["b"]["lsn"] == hi["b"].lsn


def test_new_files_in_one_source_only(spark, ws, dirs):
    """Resume consumes only the new files of the source that grew."""
    wa = synth_changes(spark, 200, n_convs=10)
    wb = synth_changes(spark, 200, n_convs=10, start_lsn=200)
    write_changes_window(wa, dirs["a"], "w0")
    write_changes_window(wb, dirs["b"], "w0")
    run_tail_once(spark, **_kw(ws, dirs))

    wb1 = synth_changes(spark, 150, n_convs=10, start_lsn=400)
    write_changes_window(wb1, dirs["b"], "w1")
    run_tail_once(spark, **_kw(ws, dirs))

    tbl = SnapshotTable.load(spark, ws["table"])
    assert_matches(
        tbl.read(),
        replay(list(wa.collect()) + list(wb.collect()) + list(wb1.collect())),
    )
    lin = read_lineage(spark, ws["lineage"])
    assert lin.agg(F.sum("events_applied")).collect()[0][0] == 550
    # the second drain advanced b's watermark and carried a's forward
    # (a contributed nothing to the last batch, yet stays in the vector)
    wm = tbl.committed_watermark("msjob")["sources"]
    hb1 = max(wb1.collect(), key=lambda e: (e.op_ts, e.lsn))
    ha = max(wa.collect(), key=lambda e: (e.op_ts, e.lsn))
    assert wm["b"] == {"ts": hb1.op_ts.isoformat(), "lsn": hb1.lsn}
    assert wm["a"] == {"ts": ha.op_ts.isoformat(), "lsn": ha.lsn}


def test_legacy_scalar_watermark_becomes_vector_floor(spark, ws, dirs):
    """Cross-mode job_id reuse: a prior single-source run committed a
    scalar {ts, lsn} ledger watermark.  The multisource stream must
    migrate it as a floor for EVERY source instead of silently
    discarding it and restarting the vector from scratch."""
    from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA

    wa = synth_changes(spark, 100, n_convs=10)
    wb = synth_changes(spark, 100, n_convs=10, start_lsn=100)
    write_changes_window(wa, dirs["a"], "w0")
    write_changes_window(wb, dirs["b"], "w0")
    # legacy scalar watermark ABOVE both tails' maxima: with a correct
    # floor migration the final vector must equal it for both sources
    floor_ts = dt.datetime(2030, 1, 1)
    tbl = SnapshotTable.create(
        spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8
    )
    tbl.record_ledger(
        "msjob", -1, watermark={"ts": floor_ts.isoformat(), "lsn": 777}
    )
    run_tail_once(spark, **_kw(ws, dirs))
    tbl = SnapshotTable.load(spark, ws["table"])
    wm = tbl.committed_watermark("msjob")["sources"]
    assert wm["a"] == {"ts": floor_ts.isoformat(), "lsn": 777}
    assert wm["b"] == {"ts": floor_ts.isoformat(), "lsn": 777}
    # the events themselves still applied (the floor is bookkeeping,
    # not a filter — file offsets come from the checkpoint)
    assert tbl.read().count() > 0


def test_two_source_evolution_one_source_lags(spark, ws, dirs):
    """Schema evolution across multisource legs: source A's tail gains
    the `tool` column; source B lags on the old shape.  Contract: the
    column is invisible until restart (file-stream schema is fixed at
    query start); on restart with the merged schema BOTH legs read —
    B's old-shape files null-fill — the union widens, and the first
    merged batch evolves the table like the single-source path
    (tests/test_schema_evolution.py; reference per-job mapping swap,
    ElasticsearchService.java:74-91)."""
    from cwds_jobs_spark.schema import CHANGES_SCHEMA, CHANGES_SCHEMA_V0, TRANSCRIPTS_SCHEMA
    from pyspark.sql import types as T

    v0_transcripts = T.StructType(
        [f for f in CHANGES_SCHEMA_V0.fields if f.name not in ("op", "op_ts", "lsn")]
    )
    tbl = SnapshotTable.create(
        spark, ws["table"], v0_transcripts, num_buckets=8
    )
    # phase 1: both sources on the v0 shape
    wa0 = synth_changes(spark, 200, n_convs=15, with_tool_col=False)
    wb0 = synth_changes(spark, 200, n_convs=15, start_lsn=200, with_tool_col=False)
    write_changes_window(wa0, dirs["a"], "w0")
    write_changes_window(wb0, dirs["b"], "w0")
    run_tail_once(
        spark, schema=CHANGES_SCHEMA_V0, **_kw(ws, dirs)
    )
    tbl = SnapshotTable.load(spark, ws["table"])
    assert "tool" not in tbl.read().columns

    # phase 2: A evolves (tool column), B lags on the old shape
    wa1 = synth_changes(spark, 200, n_convs=15, start_lsn=400, with_tool_col=True)
    wb1 = synth_changes(spark, 200, n_convs=15, start_lsn=600, with_tool_col=False)
    write_changes_window(wa1, dirs["a"], "w1")
    write_changes_window(wb1, dirs["b"], "w1")
    # restart from the SAME checkpoint with the merged schema
    run_tail_once(spark, schema=CHANGES_SCHEMA, **_kw(ws, dirs))

    tbl = SnapshotTable.load(spark, ws["table"])
    out = tbl.read()
    assert "tool" in out.columns
    # final state equals the full replay (shared-column comparison:
    # v0 winners carry no tool, evolved winners are checked on it)
    all_events = (
        list(wa0.collect()) + list(wb0.collect())
        + list(wa1.collect()) + list(wb1.collect())
    )
    assert_matches(out, replay(all_events))
    # the evolved source's tool-role winners surface their tool value
    winners = replay(all_events)
    tool_keys = {k for k, v in winners.items() if v.get("tool") is not None}
    got = {(r.conv_id, r.turn_idx): r.tool for r in out.collect()}
    assert tool_keys and all(got[k] is not None for k in tool_keys)
    # rows whose winner came from a v0 window read back tool = NULL
    v0_keys = {k for k, v in winners.items() if "tool" not in v}
    assert v0_keys and all(got[k] is None for k in v0_keys)
    # the per-source vector covers both sources at their true maxima
    wm = tbl.committed_watermark("msjob")["sources"]
    ha = max(list(wa1.collect()), key=lambda e: (e.op_ts, e.lsn))
    hb = max(list(wb1.collect()), key=lambda e: (e.op_ts, e.lsn))
    assert wm["a"] == {"ts": ha.op_ts.isoformat(), "lsn": ha.lsn}
    assert wm["b"] == {"ts": hb.op_ts.isoformat(), "lsn": hb.lsn}
