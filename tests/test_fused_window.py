"""The fused per-window path: one probe pass for all bookkeeping, one
exchange for the merge write (``lineage.probe_window``,
``operators.merge``, ``SnapshotTable.overwrite_buckets``)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from cwds_jobs_spark import state as st
from cwds_jobs_spark.lineage import (
    WindowProbe,
    probe_window,
    read_lineage,
    write_lineage,
)
from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.runner import CdcJobRunner, JobConfig
from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.sources.changes import read_changes, write_changes_window
from cwds_jobs_spark.streaming.driver import _write_progress
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.maintenance import bucket_file_counts
from cwds_jobs_spark.table.snapshot import SnapshotTable


def test_probe_lineage_matches_spark_groupby(spark, ws):
    """Driver-written lineage rows equal Spark's per-partition
    aggregate over the same persisted window, read back through
    ``read_lineage`` (timestamps included)."""
    window = synth_changes(spark, 1500, n_convs=40, num_partitions=5).persist()
    try:
        tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
        probe = probe_window(window, tbl.bucket_of())
        write_lineage(probe, ws["lineage"], "j", 7)
        want = sorted(
            tuple(r)
            for r in window.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)), F.max("lsn"), F.max("op_ts"))
            .collect()
        )
        got = sorted(
            (r.partition_id, r.events_applied, r.max_lsn, r.watermark_ts)
            for r in read_lineage(spark, ws["lineage"]).collect()
        )
        assert got == want and len(got) == 5
        lin = read_lineage(spark, ws["lineage"]).select("job_id", "batch_id").distinct()
        assert [tuple(r) for r in lin.collect()] == [("j", 7)]

        hi = window.agg(F.max(F.struct("op_ts", "lsn"))).collect()[0][0]
        assert probe.high == (hi["op_ts"], hi["lsn"])
        assert probe.events == 1500
        assert probe.buckets == sorted(
            r[0] for r in window.select(tbl.bucket_of()).distinct().collect()
        )
    finally:
        window.unpersist()


def test_replayed_lineage_write_leaves_one_file(spark, ws):
    """A re-delivered batch overwrites its ``batch=`` dir: one file,
    no stale rows from the earlier delivery (or an older Spark-written
    part file)."""
    w = synth_changes(spark, 300, n_convs=10, num_partitions=3)
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    d = os.path.join(ws["lineage"], "job=j", "batch=0")
    spark.range(3).write.parquet(d)  # stale files from an older writer
    write_lineage(probe_window(w, tbl.bucket_of()), ws["lineage"], "j", 0)
    write_lineage(probe_window(w, tbl.bucket_of()), ws["lineage"], "j", 0)
    assert len(os.listdir(d)) == 1
    lin = read_lineage(spark, ws["lineage"])
    assert lin.agg(F.sum("events_applied")).collect()[0][0] == 300


def test_sidecar_files_are_fsynced_before_rename(tmp_path, monkeypatch):
    """The lineage file and the progress sidecar reach the disk before
    they are renamed into place: a crash after the table commit cannot
    leave an empty lineage file that the ledger never rewrites."""
    log = []
    fsync, replace = os.fsync, os.replace

    def recording_fsync(fd):
        log.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        fsync(fd)

    def recording_replace(src, dst):
        log.append(("replace", os.path.realpath(src)))
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    monkeypatch.setattr(os, "replace", recording_replace)
    probe = WindowProbe(
        partitions=[(0, 3, 9, 1_700_000_000_000_000)], buckets=[1], events=3, high=None
    )
    write_lineage(probe, str(tmp_path), "j", 0)
    _write_progress(str(tmp_path), "j", {"events": 3})
    renames = [i for i, (op, _p) in enumerate(log) if op == "replace"]
    assert len(renames) == 2
    for i in renames:
        assert ("fsync", log[i][1]) in log[:i], log


def _capture_writes(monkeypatch) -> list:
    seen = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        seen.append((self._df, path))
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return seen


def test_merge_write_is_one_exchange_in_capped_tasks(spark, ws, monkeypatch):
    """The merge commit clusters the unaggregated target ∪ batch once
    by bucket and folds after that exchange; it writes with at most
    defaultParallelism tasks and still one file per bucket."""
    n_tasks = spark.sparkContext.defaultParallelism
    buckets = 2 * n_tasks  # more buckets than write tasks
    tbl = SnapshotTable.create(
        spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=buckets
    )
    events = []
    for i in range(2):
        w = synth_changes(spark, 2000, n_convs=200, start_lsn=2000 * i, seed=i)
        write_changes_window(w, ws["changes"], f"w{i}")
        events += w.collect()
        window = read_changes(spark, os.path.join(ws["changes"], f"w{i}"))
        seen = _capture_writes(monkeypatch)
        stats = merge_apply(tbl, window, job_id="j", batch_id=i)
        monkeypatch.undo()

    assert_matches(tbl.read(), replay(events))
    assert stats["affected_buckets"] == buckets
    (df, path), = seen
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "hashpartitioning(_bucket" in plan, plan
    # write task = the part-NNNNN index in the file name
    tasks = {
        int(re.match(r"part-(\d+)", f).group(1))
        for _r, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    }
    assert 1 <= len(tasks) <= n_tasks and max(tasks) < n_tasks
    assert set(bucket_file_counts(tbl).values()) == {1}


def test_initial_load_without_lineage_records_midload_savepoint(spark, ws, monkeypatch):
    """The mid-load savepoint comes from the merge's probe, so it is
    recorded with no ``lineage_dir`` too: a crash before the cutover
    resumes after the loaded events."""
    ev = synth_changes(spark, 400, n_convs=12)
    write_changes_window(ev, ws["changes"], "w0")
    runner = CdcJobRunner(
        spark,
        JobConfig(
            job_id="j",
            changes_dir=ws["changes"],
            table_path=ws["table"],
            state_dir=ws["state"],
            num_buckets=4,
        ),
    )

    def crash(_container):
        raise RuntimeError("crash before the cutover")

    monkeypatch.setattr(runner, "_finalize_initial", crash)
    with pytest.raises(RuntimeError):
        runner.run()
    c = runner.sp_svc.read()
    hi = max((r.op_ts, r.lsn) for r in ev.collect() if r.op != "D")
    assert c.job_mode == st.INITIAL_LOAD
    assert c.savepoint.as_tuple() == hi
