"""Commutativity of the version-aware merge: batch delivery order must
not change final state (distributed tails don't guarantee LSN order
across micro-batches — engineered out via per-row version vectors)."""

import datetime as dt

from pyspark.sql import functions as F

from cwds_jobs_spark.operators.merge import compact_tombstones, merge_apply
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.schema import CHANGES_SCHEMA, TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable

TS = dt.datetime(2021, 3, 1)


def _ev(conv, turn, op, sec, lsn, text=None):
    t = TS + dt.timedelta(seconds=sec)
    if op == "D":
        return (conv, turn, op, t, lsn, None, None, None, None)
    return (conv, turn, op, t, lsn, "user", text or f"{conv}@{lsn}", None, t)


def test_stale_batch_cannot_overwrite_newer_row(spark, ws):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    newer = spark.createDataFrame([_ev("a", 1, "U", 100, 50, text="new")], CHANGES_SCHEMA)
    older = spark.createDataFrame([_ev("a", 1, "I", 10, 5, text="old")], CHANGES_SCHEMA)
    merge_apply(tbl, newer, job_id="j", batch_id=0)
    merge_apply(tbl, older, job_id="j", batch_id=1)  # late, stale
    rows = tbl.read().collect()
    assert len(rows) == 1 and rows[0].text == "new"


def test_tombstone_blocks_resurrection_by_older_insert(spark, ws):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    delete = spark.createDataFrame([_ev("a", 1, "D", 100, 50)], CHANGES_SCHEMA)
    stale_insert = spark.createDataFrame([_ev("a", 1, "I", 10, 5)], CHANGES_SCHEMA)
    merge_apply(tbl, delete, job_id="j", batch_id=0)
    merge_apply(tbl, stale_insert, job_id="j", batch_id=1)
    assert tbl.read().count() == 0
    # tombstone is physically there until compaction
    assert tbl.read(include_internal=True).filter("_deleted").count() == 1


def test_random_batch_permutation_same_state(spark, ws):
    ev = synth_changes(spark, 900, n_convs=25, ts_group=5)
    chunks = [ev.filter((F.col("lsn") % 3) == i) for i in range(3)]
    import itertools

    expected = replay(ev.collect())
    for pi, perm in enumerate(itertools.permutations(range(3))):
        path = ws["table"] + f"-perm{pi}"
        tbl = SnapshotTable.create(spark, path, TRANSCRIPTS_SCHEMA, num_buckets=4)
        for b, ci in enumerate(perm):
            merge_apply(tbl, chunks[ci], job_id="j", batch_id=b)
        assert_matches(tbl.read(), expected)


def test_compact_tombstones(spark, ws):
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    w = spark.createDataFrame(
        [_ev("a", 1, "I", 0, 1), _ev("a", 1, "D", 5, 2), _ev("b", 2, "I", 6, 3)],
        CHANGES_SCHEMA,
    )
    merge_apply(tbl, w, job_id="j", batch_id=0)
    assert tbl.read(include_internal=True).filter("_deleted").count() == 1
    # watermark before the tombstone → nothing purged
    assert compact_tombstones(tbl, TS + dt.timedelta(seconds=1)) == 0
    # watermark past it → purged; live rows untouched
    n = compact_tombstones(tbl, TS + dt.timedelta(seconds=60))
    assert n >= 1
    assert tbl.read(include_internal=True).filter("_deleted").count() == 0
    assert {r.conv_id for r in tbl.read().collect()} == {"b"}


def test_tombstone_probe_is_metadata_only(spark, ws, monkeypatch):
    """A maintenance cycle with nothing purgeable must touch ZERO data
    files: merge commits record exact per-bucket tombstone stats from
    parquet footers, and compact_tombstones decides from that snapshot
    metadata alone (at 10^10 rows the old full-table probe was a full
    scan per maintenance_every batches)."""
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=4)
    w = spark.createDataFrame(
        [_ev("a", 1, "I", 0, 1), _ev("a", 1, "D", 5, 2), _ev("b", 2, "I", 6, 3)],
        CHANGES_SCHEMA,
    )
    merge_apply(tbl, w, job_id="j", batch_id=0)

    # every written bucket carries footer-derived tombstone facts
    meta = tbl.bucket_meta()
    assert meta and all("tomb" in e for e in meta.values())
    assert sum(e["tomb"]["n"] for e in meta.values()) == 1
    mins = [e["tomb"]["min_ts"] for e in meta.values() if e["tomb"]["n"]]
    assert mins == [(TS + dt.timedelta(seconds=5)).isoformat()]

    reads = []
    real_read = SnapshotTable.read
    monkeypatch.setattr(
        SnapshotTable,
        "read",
        lambda self, *a, **k: (reads.append(a), real_read(self, *a, **k))[1],
    )
    # watermark before the tombstone: decided from metadata, no read
    assert compact_tombstones(tbl, TS + dt.timedelta(seconds=1)) == 0
    assert reads == []
    # watermark past it: purge still works (reads only the hit buckets)
    assert compact_tombstones(tbl, TS + dt.timedelta(seconds=60)) == 1
    assert len(reads) == 1 and len(reads[0][0]) == 1  # one bucket list
    assert tbl.read(include_internal=True).filter("_deleted").count() == 0
