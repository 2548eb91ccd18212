"""Driver→JVM round-trip budget of the hot paths.

Every py4j command the driver sends is a socket round trip to the JVM;
at streaming-window sizes they, not Spark jobs, set much of a window's
driver time.  The counts repeat exactly for a fixed table and code
path, so they are pinned here with about 10% headroom: a change that
adds round trips to a hot path must show up as a failure here."""

from __future__ import annotations

import os
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from cwds_jobs_spark.lineage import probe_window
from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.sources.changes import read_changes, write_changes_window
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable

# measured: merge 118, lookup 37, scan 61
MERGE_BUDGET = 130
LOOKUP_BUDGET = 41
SCAN_BUDGET = 67


class RoundTrips:
    """Counts the commands this thread sends to the JVM.  py4j's
    finalizer thread releases dead JVM references on its own schedule,
    so its memory commands are left out to keep the count exact."""

    def __init__(self, monkeypatch):
        self.n = 0
        me = threading.get_ident()
        send = ClientServerConnection.send_command

        def counting(conn, command, *a, **k):
            if threading.get_ident() == me and not command.startswith("m\n"):
                self.n += 1
            return send(conn, command, *a, **k)

        monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def __call__(self, fn):
        n0 = self.n
        fn()
        return self.n - n0


@pytest.fixture
def table(spark, ws):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    for i in range(2):
        w = synth_changes(spark, 300, n_convs=12, start_lsn=300 * i, seed=i)
        write_changes_window(w, ws["changes"], f"w{i}")
    return tbl


def _window(spark, ws, tbl, i):
    window = read_changes(spark, os.path.join(ws["changes"], f"w{i}"))
    return window, probe_window(window, tbl.bucket_of())


def test_hot_path_round_trips(spark, ws, table, monkeypatch):
    # the first window and reads pay one-time set-up; measure the second
    window, probe = _window(spark, ws, table, 0)
    merge_apply(table, window, job_id="j", batch_id=0, probe=probe)
    key = "conv_00000001"
    table.lookup(key).collect()
    table.read().agg(F.count(F.lit(1))).collect()

    window, probe = _window(spark, ws, table, 1)
    count = RoundTrips(monkeypatch)
    merge = count(lambda: merge_apply(table, window, job_id="j", batch_id=1, probe=probe))
    lookup = count(lambda: table.lookup(key).collect())
    scan = count(
        lambda: table.read().agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()
    )
    counts = {"merge": merge, "lookup": lookup, "scan": scan}
    assert min(counts.values()) > 0, counts  # the counter saw the calls
    assert merge <= MERGE_BUDGET, counts
    assert lookup <= LOOKUP_BUDGET, counts
    assert scan <= SCAN_BUDGET, counts
