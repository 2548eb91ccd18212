"""Multi-source savepoint vector + per-source rollback (reference T6:
jobs-cap-users/.../savepoint/CapUsersSavePoint.java:9-47,
AbstractCapUsersJob.java:20-50) and union of change sources (U1:
CapUsersIncrementalUpdatesProcessor.java:26-42).  The vector is read
back from the table ledger, where the MERGE commits it."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from cwds_jobs_spark.multisource import committed_vector, run_multisource_incremental
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.state import EPOCH_TS
from cwds_jobs_spark.synth import synth_changes
from cwds_jobs_spark.table.snapshot import SnapshotTable


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


def _mk_sources(spark, ws, n=400):
    """Two disjoint-LSN tails over distinct conversation id spaces."""
    a_dir = os.path.join(ws["changes"], "src_a")
    b_dir = os.path.join(ws["changes"], "src_b")
    a = synth_changes(spark, n, n_convs=12, seed=1, start_lsn=0)
    b = synth_changes(spark, n, n_convs=12, seed=2, start_lsn=1_000_000)
    # keep key spaces disjoint so the oracle needn't model cross-source ties
    a = a.withColumn("conv_id", a.conv_id.substr(1, 20))
    from pyspark.sql import functions as F

    b = b.withColumn("conv_id", F.concat(F.lit("b_"), b.conv_id))
    _write(a, a_dir)
    _write(b, b_dir)
    return {"src_a": a_dir, "src_b": b_dir}, a, b


def test_union_two_sources_matches_oracle(spark, ws):
    sources, a, b = _mk_sources(spark, ws)
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
    out = run_multisource_incremental(
        spark, tbl, sources, job_id="ms", batch_id=0
    )
    assert out["applied_sources"] == ["src_a", "src_b"]
    assert out["failed_sources"] == []
    expected = replay(a.collect()) | replay(b.collect())
    assert_matches(tbl.read(), expected)
    vec = committed_vector(tbl, "ms")
    assert set(vec) == {"src_a", "src_b"}
    assert vec["src_a"].lsn == 399
    assert vec["src_b"].lsn == 1_000_399


def test_partial_failure_rolls_back_failed_side_only(spark, ws):
    sources, a, b = _mk_sources(spark, ws)
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)

    def boom(name):
        if name == "src_b":
            raise RuntimeError("simulated REST-side outage")

    out = run_multisource_incremental(
        spark, tbl, sources, job_id="ms", batch_id=0, fail_injector=boom
    )
    assert out["applied_sources"] == ["src_a"]
    assert out["failed_sources"] == ["src_b"]
    vec = committed_vector(tbl, "ms")
    assert "src_b" not in vec  # rollback: entry untouched (epoch default)
    assert vec["src_a"].lsn == 399
    assert_matches(tbl.read(), replay(a.collect()))

    # recovery run: only src_b has pending work; final state = full union
    out2 = run_multisource_incremental(
        spark, tbl, sources, job_id="ms", batch_id=1
    )
    assert out2["applied_sources"] == ["src_b"]
    assert_matches(tbl.read(), replay(a.collect()) | replay(b.collect()))
    assert committed_vector(tbl, "ms")["src_b"].lsn == 1_000_399


def test_no_new_data_leaves_vector_untouched(spark, ws):
    sources, a, b = _mk_sources(spark, ws)
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
    run_multisource_incremental(
        spark, tbl, sources, job_id="ms", batch_id=0
    )
    v1 = committed_vector(tbl, "ms")
    before = tbl.read().count()
    out = run_multisource_incremental(
        spark, tbl, sources, job_id="ms", batch_id=1
    )
    assert out["applied_sources"] == []
    v2 = committed_vector(tbl, "ms")
    assert {k: v.as_tuple() for k, v in v1.items()} == {
        k: v.as_tuple() for k, v in v2.items()
    }
    assert tbl.read().count() == before
    assert v1["src_a"].ts > EPOCH_TS


def test_replayed_batch_and_scalar_ledger_watermark(spark, ws):
    """A replayed batch_id applies nothing.  A scalar ledger watermark
    under the same job_id (a single-source run) cannot filter per-source
    reads, so the driver refuses instead of restarting every source."""
    sources, a, b = _mk_sources(spark, ws)
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
    run_multisource_incremental(spark, tbl, sources, job_id="ms", batch_id=0)
    version = tbl.version
    out = run_multisource_incremental(spark, tbl, sources, job_id="ms", batch_id=0)
    assert out["applied_sources"] == [] and tbl.version == version

    scalar = {"ts": dt.datetime(2021, 1, 1).isoformat(), "lsn": 5}
    tbl.record_ledger("single", 0, watermark=scalar)
    with pytest.raises(ValueError, match="scalar watermark"):
        run_multisource_incremental(spark, tbl, sources, job_id="single", batch_id=1)
