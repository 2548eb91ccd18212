"""Job-mode state machine scenarios — the reference JobMainTest matrix
(jobs-common/src/test/java/.../JobMainTest.java:66-189, FIXTURES.md §2)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cwds_jobs_spark import state as st
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.runner import CdcJobRunner, JobConfig
from cwds_jobs_spark.schema import CHANGES_SCHEMA
from cwds_jobs_spark.sources.changes import write_changes_window
from cwds_jobs_spark.synth import synth_changes

TS = dt.datetime(2021, 3, 1)


def _runner(spark, ws, **kw):
    cfg = JobConfig(
        job_id="job1",
        changes_dir=ws["changes"],
        table_path=ws["table"],
        state_dir=ws["state"],
        lineage_dir=ws["lineage"],
        num_buckets=8,
        **kw,
    )
    return CdcJobRunner(spark, cfg)


def _ev(conv, turn, op, sec, lsn, text=None):
    t = TS + dt.timedelta(seconds=sec)
    if op == "D":
        return (conv, turn, op, t, lsn, None, None, None, None)
    return (conv, turn, op, t, lsn, "user", text or f"{conv}/{turn}@{lsn}", None, t)


def test_empty_initial_load_keeps_epoch_savepoint(spark, ws):
    """JobMainTest.java:66-83: empty source → 0 rows, savepoint at origin."""
    r = _runner(spark, ws)
    spark.createDataFrame([], CHANGES_SCHEMA).write.parquet(ws["changes"] + "/w0")
    out = r.run()
    assert out["mode"] == st.INITIAL_LOAD and (out.get("events") or 0) == 0
    c = r.sp_svc.read()
    # no data → finalizer found no max; savepoint stays at epoch default
    assert c.savepoint.ts == st.EPOCH_TS and c.savepoint.lsn == -1
    assert c.job_mode == st.INCREMENTAL_LOAD
    assert r.table().read().count() == 0


def test_initial_load_then_mode_flip(spark, ws):
    ev = synth_changes(spark, 600, n_convs=20)
    write_changes_window(ev, ws["changes"], "w0")
    r = _runner(spark, ws)
    assert st.resolve_job_mode(r.sp_svc) == st.INITIAL_LOAD
    r.run()
    c = r.sp_svc.read()
    assert c.job_mode == st.INCREMENTAL_LOAD
    # finalizer savepoint = source max(op_ts, lsn), not wall clock
    hi = ev.agg(F.max(F.struct("op_ts", "lsn"))).collect()[0][0]
    assert (c.savepoint.ts, c.savepoint.lsn) == (hi["op_ts"], hi["lsn"])
    # initial excludes deletes; final state = replay of I/U only
    expected = replay([e for e in ev.collect() if e.op != "D"])
    assert_matches(r.table().read(), expected)


def test_incremental_no_new_data_is_noop(spark, ws):
    """JobMainTest.java:141-150: nothing to do, savepoint unchanged."""
    write_changes_window(synth_changes(spark, 300, n_convs=10), ws["changes"], "w0")
    r = _runner(spark, ws)
    r.run()
    sp_before = r.sp_svc.read().savepoint
    out = r.run()  # now incremental, tail empty
    assert (out["events"], out["windows"], out["mode"]) == (
        0, 0, st.INCREMENTAL_LOAD,
    )
    assert r.sp_svc.read().savepoint.as_tuple() == sp_before.as_tuple()


def test_incremental_applies_only_new_events(spark, ws):
    """JobMainTest.java:152-165 + the I/U/D golden incremental case."""
    w0 = synth_changes(spark, 500, n_convs=15)
    write_changes_window(w0, ws["changes"], "w0")
    r = _runner(spark, ws)
    r.run()
    w1 = synth_changes(spark, 200, n_convs=15, start_lsn=500)
    write_changes_window(w1, ws["changes"], "w1")
    out = r.run()
    assert out["mode"] == st.INCREMENTAL_LOAD and out["events"] == 200
    # deletes from w0 that were skipped by initial stay skipped (their
    # keys never existed); deletes in w1 now apply
    expected = replay(
        [e for e in w0.collect() if e.op != "D"] + list(w1.collect())
    )
    assert_matches(r.table().read(), expected)


def test_initial_resume_continues_from_savepoint(spark, ws):
    """CwsFacilityJobTest.java:87-100: interrupted bulk load resumes and
    applies only the remaining rows."""
    full = synth_changes(spark, 400, n_convs=12, p_insert=1.0, p_update=0.0)
    write_changes_window(full, ws["changes"], "w0")
    r = _runner(spark, ws)
    # simulate a crash mid-initial: savepoint frozen at lsn 199, mode INITIAL
    rows = sorted(full.collect(), key=lambda x: (x.op_ts, x.lsn))
    mid = rows[199]
    r.table()  # create target
    from cwds_jobs_spark.operators.merge import merge_apply

    first_half = spark.createDataFrame(rows[:200], CHANGES_SCHEMA)
    merge_apply(r.table(), first_half, job_id="job1", batch_id=0, drop_deletes=True)
    r.sp_svc.write(
        st.SavePointContainer(
            job_mode=st.INITIAL_LOAD,
            savepoint=st.SavePoint(ts=mid.op_ts, lsn=mid.lsn),
            batch_id=0,
        )
    )
    assert st.resolve_job_mode(r.sp_svc) == st.INITIAL_RESUME
    out = r.run()
    assert out["mode"] == st.INITIAL_RESUME
    assert_matches(r.table().read(), replay(rows))
    assert r.sp_svc.read().job_mode == st.INCREMENTAL_LOAD


def test_crash_and_resume_incremental(spark, ws):
    """testcase12 analog (JobMainTest.java:167-189): a poisoned window
    aborts the run; savepoint stays at last good batch; rerun heals."""
    write_changes_window(synth_changes(spark, 300, n_convs=10), ws["changes"], "w0")
    r = _runner(spark, ws)
    r.run()
    sp_good = r.sp_svc.read().savepoint.as_tuple()

    w1 = synth_changes(spark, 100, n_convs=10, start_lsn=300)
    write_changes_window(w1, ws["changes"], "w1")

    # poison the merge path once (BrokenTestEntityService analog)
    import cwds_jobs_spark.runner as runner_mod

    real = runner_mod.merge_apply
    calls = {"n": 0}

    def poisoned(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("broken entity")

    runner_mod.merge_apply = poisoned
    try:
        with pytest.raises(RuntimeError):
            r.run()
    finally:
        runner_mod.merge_apply = real
    # savepoint frozen at last committed batch
    assert r.sp_svc.read().savepoint.as_tuple() == sp_good
    assert r.sp_svc.read().job_mode == st.INCREMENTAL_LOAD
    # rerun completes to final state
    out = r.run()
    assert out["events"] == 100
    expected = replay(
        [e for e in synth_changes(spark, 300, n_convs=10).collect() if e.op != "D"]
        + list(w1.collect())
    )
    assert_matches(r.table().read(), expected)


def test_capped_windows_equal_timestamp_safe(spark, ws):
    """Capped incremental windows cut at TIMESTAMP boundaries (the
    reference's O2/O3 never-split-a-timestamp probes, re-expressed as a
    quantile boundary probe instead of a global TakeOrdered): a cap
    smaller than an equal-ts group still applies the group whole, the
    loop makes progress, and final state converges."""
    ev = synth_changes(spark, 300, n_convs=8, ts_group=10)  # 10 events/ts
    write_changes_window(ev.filter("lsn < 50"), ws["changes"], "w0")
    r = _runner(spark, ws, max_events_per_window=7)  # cap < ts-group size
    r.run()  # initial on first 50
    write_changes_window(ev.filter("lsn >= 50"), ws["changes"], "w1")
    out = r.run()
    # 250 pending events over 25 distinct timestamps; each window takes
    # >= 1 whole ts group (boundary probe never splits a group)
    assert out["events"] == 250
    assert 2 <= out["windows"] <= 25
    expected = replay(
        [e for e in ev.collect() if e.lsn < 50 and e.op != "D"]
        + [e for e in ev.collect() if e.lsn >= 50]
    )
    assert_matches(r.table().read(), expected)


def test_capped_window_plan_has_no_global_sort(spark, ws):
    """The capped path must not TakeOrdered/Sort the pending tail."""
    ev = synth_changes(spark, 300, n_convs=8, ts_group=10)
    write_changes_window(ev, ws["changes"], "w0")
    r = _runner(spark, ws, max_events_per_window=50)
    from cwds_jobs_spark.sources.changes import read_changes

    pending = read_changes(spark, ws["changes"])
    window = r._bound_window(pending, 50)
    plan = window._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    assert "Sort" not in plan
    # and it really is a timestamp-boundary cut holding >= 1 ts group
    n = window.count()
    assert 0 < n <= 300
    boundary_ts = window.agg(F.max("op_ts")).collect()[0][0]
    full_group = ev.filter(F.col("op_ts") == F.lit(boundary_ts)).count()
    in_window = window.filter(F.col("op_ts") == F.lit(boundary_ts)).count()
    assert in_window == full_group  # group not split


def test_ledger_skip_restore_skips_stale_planned_boundaries(spark, ws):
    """Capped drain + crash-after-commit replay: the savepoint restored
    from the committed watermark can sit PAST several boundaries that
    were planned at loop start.  The drain must skip the stale
    boundaries and still apply everything pending (r3 advisory: the old
    loop filtered the next window to a stale boundary, got an empty
    frame, and reported a complete drain while events remained)."""
    w0 = synth_changes(spark, 300, n_convs=10)
    write_changes_window(w0, ws["changes"], "w0")
    r = _runner(spark, ws, max_events_per_window=40)
    r.run()  # initial + cutover

    from cwds_jobs_spark.operators.merge import merge_apply

    # one committed-but-unsavepointed batch spanning THREE tail files
    # (three planned boundaries), then a crash before sp_svc.write()
    w1 = synth_changes(spark, 120, n_convs=10, start_lsn=300)
    rows = sorted(w1.collect(), key=lambda e: (e.op_ts, e.lsn))
    for i in range(3):
        write_changes_window(
            spark.createDataFrame(rows[i * 40 : (i + 1) * 40], CHANGES_SCHEMA),
            ws["changes"], f"w1_{i}",
        )
    hi1 = rows[-1]
    merge_apply(
        r.table(),
        spark.read.option("recursiveFileLookup", "true").parquet(
            *[ws["changes"] + f"/w1_{i}" for i in range(3)]
        ),
        job_id="job1", batch_id=1, watermark=(hi1.op_ts, hi1.lsn),
    )
    w2 = synth_changes(spark, 50, n_convs=10, start_lsn=420)
    write_changes_window(w2, ws["changes"], "w2")

    out = r.run()  # restart: skip restores savepoint past 2 boundaries
    assert out["events"] == 50  # ONLY w2 — and w2 is NOT silently lost
    expected = replay(
        [e for e in w0.collect() if e.op != "D"] + rows + list(w2.collect())
    )
    assert_matches(r.table().read(), expected)
    hi2 = max(w2.collect(), key=lambda e: (e.op_ts, e.lsn))
    assert r.sp_svc.read().savepoint.as_tuple() == (hi2.op_ts, hi2.lsn)


def test_empty_planned_window_advances_to_next_boundary(spark, ws, monkeypatch):
    """An empty PLANNED window is not end-of-tail: the loop must advance
    to the next boundary instead of terminating with pending events."""
    write_changes_window(synth_changes(spark, 300, n_convs=10), ws["changes"], "w0")
    r = _runner(spark, ws, max_events_per_window=50)
    r.run()  # initial + cutover
    sp = r.sp_svc.read().savepoint
    w1 = synth_changes(spark, 100, n_convs=10, start_lsn=300)
    write_changes_window(w1, ws["changes"], "w1")

    import cwds_jobs_spark.sources.file_stats as fs

    real = fs.plan_window_boundaries

    def with_bogus_first(stats, after_ts, cap):
        bs = real(stats, after_ts, cap)
        if bs:
            # a boundary at the savepoint itself: its window is empty
            bs.insert(0, sp.ts)
        return bs

    monkeypatch.setattr(fs, "plan_window_boundaries", with_bogus_first)
    out = r.run()
    assert out["events"] == 100


def _hand_commit(spark, ws, r, w1):
    """A prior run applied window 1 (table + ledger + watermark
    committed), then died before ``sp_svc.write()``."""
    from cwds_jobs_spark.operators.merge import merge_apply

    hi1 = max(w1.collect(), key=lambda e: (e.op_ts, e.lsn))
    merge_apply(
        r.table(), spark.read.parquet(ws["changes"] + "/w1"),
        job_id="job1", batch_id=1, watermark=(hi1.op_ts, hi1.lsn),
    )


def _crash_before_snapshot_json(monkeypatch):
    from cwds_jobs_spark.table.snapshot import SnapshotTable

    def crash(self, snap):
        raise OSError("injected crash before the snapshot JSON")

    monkeypatch.setattr(SnapshotTable, "_write_snapshot", crash)


def _crash_before_pointer_swap(monkeypatch):
    import os

    real_replace = os.replace

    def crash(src, dst):
        if os.path.basename(dst) == "_VERSION":
            raise OSError("injected crash before the pointer swap")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash)


def _crash_before_savepoint(monkeypatch):
    def crash(self, container):
        raise OSError("injected crash before the savepoint write")

    monkeypatch.setattr(st.SavePointService, "write", crash)


@pytest.mark.parametrize(
    "crash, committed",
    [
        (None, 1),  # window 1 committed by hand, uncapped rerun
        (_crash_before_snapshot_json, 0),  # bucket files written, no JSON
        (_crash_before_pointer_swap, 1),  # JSON linked, _VERSION lags
        (_crash_before_savepoint, 1),  # committed, savepoint not written
    ],
    ids=["hand_commit", "before_json", "before_pointer", "before_savepoint"],
)
def test_crash_between_commit_and_savepoint_never_skips_events(
    spark, ws, monkeypatch, crash, committed
):
    """Crash at each commit step of window 1, with new tail files
    arriving before the restart: the rerun's recomputed window is not
    the committed one.  The rerun must resume from what the ledger
    committed (advancing from the recomputed window would silently
    skip the new events forever), apply only the events not yet
    applied, and end at the tail's high watermark with the ledger's
    batch_id."""
    from cwds_jobs_spark.table.snapshot import SnapshotTable

    w0 = synth_changes(spark, 300, n_convs=10)
    write_changes_window(w0, ws["changes"], "w0")
    r = _runner(spark, ws, max_events_per_window=None if crash is None else 40)
    r.run()  # initial load + cutover; batch_id now 0

    w1 = synth_changes(spark, 100, n_convs=10, start_lsn=300)
    write_changes_window(w1, ws["changes"], "w1")
    if crash is None:
        _hand_commit(spark, ws, r, w1)
    else:
        crash(monkeypatch)
        with pytest.raises(OSError, match="injected"):
            r.run()
        monkeypatch.undo()
    crashed = SnapshotTable.load(spark, ws["table"])
    assert crashed.committed_batch("job1") == committed
    wm = crashed.committed_watermark("job1")
    done = (
        (dt.datetime.fromisoformat(wm["ts"]), wm["lsn"])
        if wm else r.sp_svc.read().savepoint.as_tuple()
    )
    # new events land BEFORE the restart -> recomputed window differs
    w2 = synth_changes(spark, 50, n_convs=10, start_lsn=400)
    write_changes_window(w2, ws["changes"], "w2")
    tail = list(w1.collect()) + list(w2.collect())

    out = r.run()
    assert out["events"] == sum((e.op_ts, e.lsn) > done for e in tail)
    expected = replay([e for e in w0.collect() if e.op != "D"] + tail)
    assert_matches(r.table().read(), expected)
    hi = max(list(w0.collect()) + tail, key=lambda e: (e.op_ts, e.lsn))
    c = r.sp_svc.read()
    assert c.savepoint.as_tuple() == (hi.op_ts, hi.lsn)
    assert c.batch_id == SnapshotTable.load(spark, ws["table"]).committed_batch("job1")


def test_vector_watermark_in_ledger_rejected_by_batch_runner(spark, ws):
    """Cross-mode job_id reuse, the other direction: the table ledger
    carries a multi-source VECTOR watermark (job previously ran via the
    multisource streaming driver).  The batch runner's crash-restore
    path has no sound scalar savepoint to restore — it must refuse
    loudly, not KeyError on wm["ts"] or silently guess."""
    from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
    from cwds_jobs_spark.table.snapshot import SnapshotTable

    write_changes_window(
        synth_changes(spark, 200, n_convs=10), ws["changes"], "w0"
    )
    r = _runner(spark, ws)
    tbl = SnapshotTable.create(
        spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8
    )
    # simulate: multisource stream committed batch 1 with a vector
    tbl.record_ledger(
        "job1",
        1,
        watermark={
            "sources": {
                "a": {"ts": TS.isoformat(), "lsn": 10},
                "b": {"ts": TS.isoformat(), "lsn": 20},
            }
        },
    )
    # savepoint file says incremental, one batch behind the ledger →
    # the next merge_apply is ledger-skipped and hits the restore path
    r.sp_svc.write(
        st.SavePointContainer(
            job_mode=st.INCREMENTAL_LOAD,
            savepoint=st.SavePoint(ts=st.EPOCH_TS, lsn=-1),
            table_ident=ws["table"],
            batch_id=0,
        )
    )
    with pytest.raises(ValueError, match="multi-source vector"):
        r.run()
