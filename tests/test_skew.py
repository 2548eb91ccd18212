"""Hot-key skew: the LWW/merge path must stay correct (and reduce
map-side) when one conversation dominates the tail — the 10^10-scale
failure mode a skew defense targets (SURVEY.md §7.3)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from cwds_jobs_spark.operators.dedup import lww_dedup
from cwds_jobs_spark.operators.merge import merge_apply
from cwds_jobs_spark.oracle import assert_matches, replay
from cwds_jobs_spark.schema import CHANGES_SCHEMA, TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.table.snapshot import SnapshotTable

T0 = dt.datetime(2023, 1, 1)


def _skewed_batch(spark, n=20_000, hot_frac=0.8):
    """hot_frac of all events hit ONE (conv, turn) key."""
    n_hot = int(n * hot_frac)
    lsn = F.col("id")
    hot = lsn < n_hot
    conv = F.when(hot, F.lit("conv_hot")).otherwise(
        F.format_string("conv_%d", F.pmod(lsn, 50))
    )
    turn = F.when(hot, F.lit(0)).otherwise(F.pmod(lsn, 7).cast("int"))
    ts = F.timestamp_seconds(F.lit(int(T0.timestamp())) + F.floor(lsn / 16))
    op = F.when(F.pmod(lsn, 11) == 0, "D").when(F.pmod(lsn, 3) == 0, "U").otherwise("I")
    d = op == "D"
    return spark.range(n, numPartitions=16).select(
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        op.alias("op"),
        ts.alias("op_ts"),
        lsn.alias("lsn"),
        F.when(d, None).otherwise(F.lit("user")).alias("role"),
        F.when(d, None).otherwise(F.format_string("txt %d", lsn)).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.when(d, None).otherwise(ts).alias("ts"),
    )


def test_skewed_merge_matches_oracle(spark, ws):
    batch = _skewed_batch(spark)
    tbl = SnapshotTable.create(spark, ws["table"], TRANSCRIPTS_SCHEMA, num_buckets=8)
    merge_apply(tbl, batch, job_id="skew", batch_id=0)
    assert_matches(tbl.read(), replay(batch.collect()))
    # the hot key resolved to exactly one row with the max version
    hot = tbl.read(include_internal=True).filter(
        (F.col("conv_id") == "conv_hot") & (F.col("turn_idx") == 0)
    ).collect()
    assert len(hot) == 1


def test_map_side_combine_shrinks_hot_key_shuffle(spark):
    """The partial aggregate must collapse the hot key inside each of
    the 16 input partitions before the exchange: the shuffle carries
    at most (#partitions x #keys) rows, not #events."""
    batch = _skewed_batch(spark, n=20_000)
    deduped = lww_dedup(batch)
    # partial agg output <= 16 partitions x (1 hot + 50*7 cold keys)
    # versus 20k input rows; structure is asserted by the plan test
    # (partial_max before the single Exchange) — here we pin the
    # output cardinality to the distinct key count
    n_keys = batch.select("conv_id", "turn_idx").distinct().count()
    assert deduped.count() == n_keys
