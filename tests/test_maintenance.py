"""Bucket compaction + CLI entry point."""

from __future__ import annotations

import json
import os

from cwds_jobs_spark.oracle import assert_matches, replay, table_state
from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.maintenance import (
    bucket_file_counts,
    compact_buckets,
)
from cwds_jobs_spark.table.snapshot import SnapshotTable


def _apply_windows(spark, tbl, n_windows=5, per=300):
    all_events = []
    for w in range(n_windows):
        df = synth_changes(
            spark, per, n_convs=10, start_lsn=per * w, num_partitions=8
        )
        all_events.extend(df.collect())
        merge_apply(tbl, df, job_id="cmp", batch_id=w)
    return all_events


def test_merge_writes_one_file_per_bucket(spark, ws):
    """The write path clusters by bucket: a commit leaves exactly one
    file per touched bucket regardless of upstream task count."""
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    _apply_windows(spark, tbl, n_windows=2)
    assert all(v == 1 for v in bucket_file_counts(tbl).values())


def _fragment_buckets(tbl):
    """Simulate a fragmented table (a parallel write that left several
    files per bucket): split each bucket's file in two and point the
    snapshot entry at both halves."""
    import pyarrow.parquet as pq

    for entry in tbl._snap["buckets"].values():
        halves = []
        for f in entry["files"]:
            path = os.path.join(tbl.path, f)
            t = pq.read_table(path)
            mid = t.num_rows // 2
            for i, part in enumerate((t.slice(0, mid), t.slice(mid))):
                half = f[: -len(".parquet")] + f"-half{i}.parquet"
                pq.write_table(part, os.path.join(tbl.path, half))
                halves.append(half)
        entry["files"] = halves


def test_compaction_preserves_state_and_shrinks_files(spark, ws):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    events = _apply_windows(spark, tbl)
    before_state = table_state(tbl.read())
    _fragment_buckets(tbl)
    assert max(bucket_file_counts(tbl).values()) > 1

    n = compact_buckets(tbl, max_files_per_bucket=1)
    assert n >= 1
    counts = bucket_file_counts(tbl)
    assert all(v == 1 for v in counts.values())
    # state is bit-identical incl. version vectors: a post-compaction
    # stale replay must still lose to the retained versions
    assert table_state(tbl.read()) == before_state
    assert_matches(tbl.read(), replay(events))


def test_compaction_keeps_merge_correct_after(spark, ws):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    events = _apply_windows(spark, tbl, n_windows=3)
    compact_buckets(tbl, max_files_per_bucket=1)
    late = synth_changes(spark, 300, n_convs=10, start_lsn=900)
    events.extend(late.collect())
    merge_apply(tbl, late, job_id="cmp", batch_id=3)
    assert_matches(tbl.read(), replay(events))


def test_cli_batch_job_roundtrip(spark, ws, tmp_path, monkeypatch):
    """-c config -l state-dir runs initial load then incremental
    (reference JobOptions.java:132-165 CLI shape)."""
    from cwds_jobs_spark import cli

    w0 = synth_changes(spark, 500, n_convs=15)
    w0.write.mode("overwrite").parquet(os.path.join(ws["changes"], "w0"))
    monkeypatch.setenv("CDC_TEST_TABLE", ws["table"])
    cfg = tmp_path / "job.yaml"
    cfg.write_text(
        "job_id: clitest\n"
        f"changes_dir: {ws['changes']}\n"
        "table_path: ${CDC_TEST_TABLE}\n"
        "num_buckets: 8\n"
    )
    jc, driver = cli.load_config(str(cfg), ws["state"])
    assert driver == "batch"
    assert jc.table_path == ws["table"]  # ${ENV} substituted

    from cwds_jobs_spark.runner import CdcJobRunner, ensure_dirs

    ensure_dirs(jc)
    CdcJobRunner(spark, jc).run()  # INITIAL_LOAD
    w1 = synth_changes(spark, 200, n_convs=15, start_lsn=500)
    w1.write.mode("overwrite").parquet(os.path.join(ws["changes"], "w1"))
    CdcJobRunner(spark, jc).run()  # INCREMENTAL_LOAD

    # initial excludes D (QueryConstants.java:42,50); w1's deletes apply
    expected = replay(
        [e for e in w0.collect() if e.op != "D"] + list(w1.collect())
    )
    assert_matches(SnapshotTable.load(spark, ws["table"]).read(), expected)

    sp = json.load(open(os.path.join(ws["state"], "LastJobRun.json")))
    assert sp["job_mode"] == "INCREMENTAL_LOAD"
    assert sp["savepoint_lsn"] == 699


def test_rebucket_preserves_state_and_keeps_merging(spark, ws):
    """Growth path: 4 -> 16 buckets, state identical, later merges land
    in the new layout."""
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    events = _apply_windows(spark, tbl, n_windows=3)
    before = table_state(tbl.read(include_internal=True))
    tbl.rebucket(16)
    assert tbl.num_buckets == 16
    assert table_state(tbl.read(include_internal=True)) == before
    assert max(bucket_file_counts(tbl)) <= 15  # new bucket id space
    # ledger survived: replaying an applied batch is still a no-op
    n = tbl.read().count()
    from cwds_jobs_spark.synth import synth_changes as sc

    merge_apply(tbl, sc(spark, 300, n_convs=10, start_lsn=600), job_id="cmp", batch_id=2)
    assert tbl.read().count() == n  # batch 2 was already in the ledger
    late = sc(spark, 300, n_convs=10, start_lsn=900)
    events.extend(late.collect())
    merge_apply(tbl, late, job_id="cmp", batch_id=3)
    assert_matches(tbl.read(), replay(events))


def test_vacuum_reclaims_superseded_commits(spark, ws):
    """GC: superseded commit-* dirs are removed, retained snapshots'
    files survive, table state is unchanged for readers."""
    import glob

    from cwds_jobs_spark.table.maintenance import vacuum

    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    events = _apply_windows(spark, tbl, n_windows=5)
    before_state = table_state(tbl.read())
    files_before = sum(bucket_file_counts(tbl).values())
    n_dirs_before = len(glob.glob(os.path.join(ws["table"], "data", "commit-*")))
    disk_before = sum(
        os.path.getsize(p)
        for p in glob.glob(
            os.path.join(ws["table"], "data", "commit-*", "*", "*.parquet")
        )
    )

    out = vacuum(tbl, keep_snapshots=1)
    assert out["removed_files"] > 0 and out["removed_bytes"] > 0
    assert out["removed_snapshots"] > 0

    disk_after = sum(
        os.path.getsize(p)
        for p in glob.glob(
            os.path.join(ws["table"], "data", "commit-*", "*", "*.parquet")
        )
    )
    assert disk_after < disk_before  # actual disk reclaimed
    n_dirs_after = len(glob.glob(os.path.join(ws["table"], "data", "commit-*")))
    assert n_dirs_after < n_dirs_before

    # readers unaffected: same state from the live snapshot, and a
    # fresh load sees it too
    assert table_state(tbl.read()) == before_state
    assert table_state(SnapshotTable.load(spark, ws["table"]).read()) == before_state
    assert sum(bucket_file_counts(tbl).values()) == files_before
    assert_matches(tbl.read(), replay(events))

    # vacuum is idempotent
    again = vacuum(tbl, keep_snapshots=1)
    assert again["removed_files"] == 0


def test_vacuum_then_merge_continues(spark, ws):
    from cwds_jobs_spark.table.maintenance import vacuum

    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    events = _apply_windows(spark, tbl, n_windows=3)
    vacuum(tbl, keep_snapshots=1)
    late = synth_changes(spark, 300, n_convs=10, start_lsn=900)
    events.extend(late.collect())
    merge_apply(tbl, late, job_id="cmp", batch_id=3)
    assert_matches(tbl.read(), replay(events))
