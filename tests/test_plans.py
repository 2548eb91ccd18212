"""Physical-plan regression tests: the scale properties SURVEY.md §4
promises (pushdown, pruning, broadcast, partial aggregation) must be
visible in the optimized/physical plans, not assumed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_savepoint_predicate_pushed_to_scan(spark, ws):
    """The resume predicate must reach the parquet scan (the analog of
    the reference's DB index range-scan on IBMSNAP_LOGMARKER)."""
    import datetime as dt

    from cwds_jobs_spark.sources.changes import read_changes, write_changes_window
    from cwds_jobs_spark.state import SavePoint
    from cwds_jobs_spark.synth import synth_changes

    write_changes_window(synth_changes(spark, 100), ws["changes"], "w0")
    df = read_changes(
        spark, ws["changes"], after=SavePoint(ts=dt.datetime(2020, 1, 1), lsn=10)
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan
    # the op_ts range leg is pushable (lsn tiebreak leg is disjunctive
    # with it, so pushdown surfaces as an Or filter on both columns)
    assert "op_ts" in plan.split("PushedFilters")[1][:300]


def test_projection_prunes_scan_columns(spark):
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("ts") > "2024-01-10")
        .select("event_id", "user_id")
    )
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema  # wide column not read


def test_point_lookup_join_broadcasts_dim(spark):
    import __spark_entry__ as entry

    plan = _formatted(entry.q_point_lookup_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_stays_broadcast(spark):
    import __spark_entry__ as entry

    plan = _formatted(entry.q_multiway_left_join_distinct(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lww_merge_is_single_shuffle_hash_agg(spark, ws):
    """The merge's LWW is one hash aggregate with a map-side partial
    (partial_max before the Exchange, max after) — not a window sort,
    and not two payload shuffles."""
    from cwds_jobs_spark.operators.dedup import lww_dedup
    from cwds_jobs_spark.synth import synth_changes

    df = lww_dedup(synth_changes(spark, 1000))
    plan = _formatted(df)
    # one shuffle: each node name appears twice in formatted output
    # (tree line + detail section)
    assert plan.count("Exchange") <= 2
    # map-side partial combine before the shuffle (max(struct) is not
    # hash-aggregable, so it's a partial/final SortAggregate pair)
    assert "partial_max" in plan
    assert "Window" not in plan


def test_exact_dedup_single_shuffle(spark):
    import __spark_entry__ as entry

    plan = _formatted(entry.q_exact_dedup_docs(spark, SF))
    assert plan.count("Exchange") <= 2  # hash agg + AQE reuse at most
    assert "partial_min" in plan or "partial_count" in plan


def test_simhash_plan_is_fully_native(spark):
    """The rewritten simhash kernel must stay JVM-side: no Python/Arrow
    eval nodes anywhere in the signature plan."""
    from cwds_jobs_spark.operators.doc_dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _formatted(simhash(docs.select("doc_id", "text")))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "mapInPandas" not in plan.lower()


def test_minhash_verify_ships_hashed_shingles(spark):
    """The near-dup verify join must carry array<long> shingle hashes,
    never the original string shingle arrays."""
    from cwds_jobs_spark.operators.doc_dedup import (
        hashed_shingles,
        near_dups_from_hashed,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hdf = hashed_shingles(docs)
    out = near_dups_from_hashed(hdf, threshold=0.5, num_hashes=16, bands=16)
    # join inputs are (id, array<bigint>) — schema check on the verify
    # sides via the analyzed plan
    plan = _formatted(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert dict(hdf.dtypes)["sh"] == "array<bigint>"
