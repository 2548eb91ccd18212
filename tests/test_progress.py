"""Progress / ETA reporting (reference JobTimeReport +
TimeLeftEstimationProvider analogs)."""

import os

import pytest

from cwds_jobs_spark.progress import ProgressReporter
from cwds_jobs_spark.synth import synth_changes


class FakeClock:
    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t


def test_reporter_rate_and_eta_linear_estimator():
    clk = FakeClock()
    r = ProgressReporter(total_expected=1000, clock=clk)
    clk.t += 10.0
    r.update(250)
    snap = r.snapshot()
    assert snap["events"] == 250
    assert snap["events_per_sec"] == 25.0
    # reference estimator: remaining × elapsed/done = 750 × 0.04s
    assert snap["eta_sec"] == 30.0
    assert snap["pct_done"] == 25.0

    clk.t += 10.0
    r.update(750)
    snap = r.snapshot()
    assert snap["eta_sec"] == 0.0
    assert snap["pct_done"] == 100.0
    assert snap["batches"] == 2


def test_reporter_without_total():
    r = ProgressReporter()
    r.update(10)
    snap = r.snapshot()
    assert snap["eta_sec"] is None and snap["pct_done"] is None
    assert snap["events"] == 10


def test_runner_incremental_reports_rate(spark, ws):
    from cwds_jobs_spark.runner import CdcJobRunner, JobConfig, ensure_dirs

    cfg = JobConfig(
        job_id="rate",
        changes_dir=ws["changes"],
        table_path=ws["table"],
        state_dir=ws["state"],
        num_buckets=4,
    )
    ensure_dirs(cfg)
    synth_changes(spark, 300, n_convs=10).write.mode("overwrite").parquet(
        os.path.join(ws["changes"], "w0")
    )
    r = CdcJobRunner(spark, cfg)
    r.run()  # initial
    synth_changes(spark, 200, n_convs=10, start_lsn=300).write.mode(
        "overwrite"
    ).parquet(os.path.join(ws["changes"], "w1"))
    out = CdcJobRunner(spark, cfg).run()  # incremental
    assert out["events"] == 200
    assert out["events_per_sec"] > 0


@pytest.mark.parametrize("tails", [1, 2], ids=["one_tail", "two_tails"])
def test_streaming_driver_writes_progress_sidecar_by_default(spark, ws, tails):
    """C4 default-on: a drain with lineage_dir set leaves a rate/ETA
    snapshot at <lineage>/job=<id>/_progress.json, fed synchronously
    from the applied-batch lineage stats — for one tail or a dict of
    several."""
    from cwds_jobs_spark.sources.changes import write_changes_window
    from cwds_jobs_spark.streaming.driver import read_progress, run_tail_once

    if tails == 1:
        changes_dir = ws["changes"]
        write_changes_window(synth_changes(spark, 400, n_convs=10), changes_dir, "w0")
    else:
        changes_dir = {s: os.path.join(ws["changes"], s) for s in ("a", "b")}
        for i, d in enumerate(changes_dir.values()):
            ev = synth_changes(spark, 200, n_convs=10, start_lsn=200 * i)
            write_changes_window(ev, d, "w0")
    run_tail_once(
        spark,
        job_id="pjob",
        changes_dir=changes_dir,
        table_path=ws["table"],
        checkpoint_dir=ws["checkpoint"],
        lineage_dir=ws["lineage"],
        num_buckets=8,
        total_expected=400,
    )
    snap = read_progress(ws["lineage"], "pjob")
    assert snap is not None
    assert snap["events"] == 400
    assert snap["events_per_sec"] > 0
    assert snap["eta_sec"] == 0.0  # total_expected reached
    assert snap["pct_done"] == 100.0
