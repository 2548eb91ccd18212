"""LWW dedup: the hash-aggregate winner per key ≡ oracle (A4)."""

import datetime as dt

from pyspark.sql import functions as F

from cwds_jobs_spark.operators.dedup import lww_dedup
from cwds_jobs_spark.schema import CHANGES_SCHEMA
from cwds_jobs_spark.synth import synth_changes


def _expected(rows):
    win = {}
    for r in rows:
        k = (r.conv_id, r.turn_idx)
        if k not in win or (r.op_ts, r.lsn) > (win[k].op_ts, win[k].lsn):
            win[k] = r
    return {k: (v.op, v.lsn) for k, v in win.items()}


def test_lww_agg_matches_oracle(spark):
    df = synth_changes(spark, 3000, n_convs=30, ts_group=7)
    exp = _expected(df.collect())
    got = {
        (r.conv_id, r.turn_idx): (r.op, r.lsn) for r in lww_dedup(df).collect()
    }
    assert got == exp


def test_equal_ts_tiebreak_by_lsn(spark):
    # two events for one key at the SAME op_ts — lsn must decide
    # (reference testcase9 equal-timestamp scenario)
    ts = dt.datetime(2020, 1, 1)
    rows = [
        ("c1", 0, "I", ts, 1, "user", "old", None, ts),
        ("c1", 0, "U", ts, 2, "user", "new", None, ts),
    ]
    df = spark.createDataFrame(rows, CHANGES_SCHEMA)
    out = lww_dedup(df).collect()
    assert len(out) == 1 and out[0].text == "new" and out[0].lsn == 2


def test_dedup_preserves_column_order(spark):
    df = synth_changes(spark, 100)
    assert lww_dedup(df).columns == df.columns


def test_dedup_single_shuffle_plan(spark):
    """The agg LWW must be ONE shuffle with a partial_ aggregate below it
    (map-side combine = the skew defense). Plan-level assertion."""
    df = synth_changes(spark, 100)
    plan = lww_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("exchange") == 1
    assert "partial_max" in plan or "partial_" in plan


def test_lww_dedup_contract_holds_for_evolved_nested_schema(spark):
    """LWW dedup is payload-shape-agnostic: a batch with an evolved
    NESTED payload (added struct field + widened nested numeric — the
    round-2 evolution fixtures) must dedup to one winner per key with
    the nested struct passed through intact, every source column
    included."""
    from pyspark.sql import types as T

    props = T.StructType(
        [
            T.StructField("rating", T.LongType()),
            T.StructField("labels", T.ArrayType(T.StringType())),
            T.StructField("reviewer", T.StringType()),
        ]
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text", T.StringType()),
            T.StructField("props", props),
            T.StructField("op", T.StringType(), False),
            T.StructField("op_ts", T.TimestampType(), False),
            T.StructField("lsn", T.LongType(), False),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "v1", (3, ["a"], None), "I", t0, 1),
        ("c1", 0, "v2", (4, ["a", "b"], "rev"), "U", t0, 2),  # winner
        ("c2", 1, "w1", (9, [], "r2"), "I", t0, 3),           # winner
    ]
    deduped = lww_dedup(spark.createDataFrame(rows, schema))
    # full evolved column set, nested struct type preserved
    assert deduped.columns == [f.name for f in schema.fields]
    assert deduped.schema["props"].dataType == props
    got = {r.conv_id: r for r in deduped.collect()}
    assert len(got) == 2
    assert got["c1"].lsn == 2 and got["c1"].props.reviewer == "rev"
    assert got["c1"].props.rating == 4 and got["c1"].props.labels == ["a", "b"]
    assert got["c2"].props.asDict() == {"rating": 9, "labels": [], "reviewer": "r2"}


def test_lww_dedup_output_matches_merge_contract(spark):
    """The deduped window keeps the changes shape: the key columns,
    `op` (a delete is still a delete) and the full payload, one row
    per key."""
    batch = synth_changes(spark, 500, n_convs=20)
    deduped = lww_dedup(batch)
    assert deduped.columns == [f.name for f in CHANGES_SCHEMA.fields]
    keys = deduped.select("conv_id", "turn_idx").distinct().count()
    assert deduped.count() == keys  # exactly one winner per key
    # winners really are last-writer: max (op_ts, lsn) per key
    expect = batch.groupBy("conv_id", "turn_idx").agg(
        F.max(F.struct("op_ts", "lsn"))["lsn"].alias("lsn")
    )
    got = deduped.select("conv_id", "turn_idx", "lsn")
    assert got.exceptAll(expect).count() == 0
