"""Snapshot commits are a compare-and-swap on the table version.

Two writers loaded at the same version must not both commit: the
second one's base is stale, and publishing its snapshot would drop the
first one's buckets and ledger entry.  A crash between publishing the
snapshot JSON and swapping the ``_VERSION`` pointer must leave a table
that later commits can still advance.
"""

import datetime as dt
import os

import pytest

from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.schema import CHANGES_SCHEMA, TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.table.snapshot import CommitConflict, SnapshotTable

TS = dt.datetime(2021, 3, 1)


def _ev(conv, turn, sec, lsn):
    t = TS + dt.timedelta(seconds=sec)
    return (conv, turn, "I", t, lsn, "user", f"{conv}/{turn}@{lsn}", None, t)


def _window(spark, *events):
    return spark.createDataFrame(list(events), CHANGES_SCHEMA)


def test_stale_second_writer_raises_and_first_commit_survives(spark, ws):
    SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
    writer_a = SnapshotTable.load(spark, ws["table"])
    writer_b = SnapshotTable.load(spark, ws["table"])

    win_a = _window(spark, _ev("a", 0, 0, 1), _ev("a", 1, 1, 2))
    merge_apply(writer_a, win_a, job_id="writer-a", batch_id=0)
    with pytest.raises(CommitConflict, match="version 1"):
        merge_apply(
            writer_b, _window(spark, _ev("b", 0, 2, 3)), job_id="writer-b", batch_id=0
        )
    with pytest.raises(CommitConflict):
        writer_b.record_ledger("writer-b", 0)

    now = SnapshotTable.load(spark, ws["table"])
    assert now.version == 1
    assert now.committed_batch("writer-a") == 0
    assert now.committed_batch("writer-b") == -1
    assert_matches(now.read(), replay(win_a.collect()))
    # the losing writer leaves no temp files behind
    assert not [f for f in os.listdir(os.path.join(ws["table"], "_meta"))
                if f.endswith(".tmp")]


def test_crash_before_pointer_swap_rolls_forward(spark, ws, monkeypatch):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
    windows = [
        _window(spark, _ev("a", 0, 0, 1), _ev("b", 0, 1, 2)),
        _window(spark, _ev("a", 0, 2, 3), _ev("c", 0, 3, 4)),
        _window(spark, _ev("d", 0, 4, 5)),
    ]
    merge_apply(tbl, windows[0], job_id="j", batch_id=0)
    assert tbl.version == 1

    real_replace = os.replace

    def crash_on_pointer(src, dst):
        if os.path.basename(dst) == "_VERSION":
            raise OSError("injected crash before the pointer swap")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_pointer)
    with pytest.raises(OSError, match="injected"):
        merge_apply(tbl, windows[1], job_id="j", batch_id=1)
    monkeypatch.undo()
    with open(os.path.join(ws["table"], "_meta", "_VERSION")) as f:
        assert f.read().strip() == "snap-000000001.json"  # the pointer lags

    resumed = SnapshotTable.load(spark, ws["table"])
    assert resumed.version == 2
    assert resumed.committed_batch("j") == 1
    assert merge_apply(resumed, windows[1], job_id="j", batch_id=1)["skipped"]
    merge_apply(resumed, windows[2], job_id="j", batch_id=2)
    assert resumed.version == 3

    final = SnapshotTable.load(spark, ws["table"])
    assert final.version == 3
    events = [r for w in windows for r in w.collect()]
    assert_matches(final.read(), replay(events))
