"""Last-writer-wins dedup of a change window.

The reference never dedups explicitly: it relies on the source query's
total order (``order by ts, id`` — jobs-facilities-cws/.../
QueryConstants.java:72-73,80) plus sequential overwriting writes
(jobs-common/.../elastic/ElasticWriter.java:67-89).  A parallel,
set-oriented apply cannot rely on write order, so LWW on
``(op_ts, lsn)`` is made explicit here (SURVEY.md §2.4 A4).

``lww_dedup``: ``groupBy(key).agg(max(struct(op_ts, lsn, op,
payload…)))``.  A hash aggregate does **map-side partial combine**, so
a hot conversation key is reduced inside each input partition before
the shuffle — intrinsically skew-immune, one shuffle, no window sort.
The merge does not call it: its in-bucket ``max(struct)`` fold over
(target ∪ raw window) picks the same winner
(``operators.merge.merge_apply``).  ``synth.synth_transcripts`` uses it
to build a table with one row per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cwds_jobs_spark.schema import KEY_COLS


def lww_dedup(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """One row per key: the event with max (op_ts, lsn).

    Struct comparison is lexicographic on field order, so putting
    ``op_ts, lsn`` first makes ``max(struct(...))`` exactly the LWW
    winner; ``lsn`` is unique, so the result is deterministic.
    """
    keys = key_cols or KEY_COLS
    rest = [c for c in df.columns if c not in keys and c not in ("op_ts", "lsn")]
    packed = F.max(F.struct(F.col("op_ts"), F.col("lsn"), *[F.col(c) for c in rest]))
    out = df.groupBy(*keys).agg(packed.alias("_w"))
    return out.select(
        *keys,
        F.col("_w.op_ts").alias("op_ts"),
        F.col("_w.lsn").alias("lsn"),
        *[F.col(f"_w.{c}").alias(c) for c in rest],
    ).select(*df.columns)
