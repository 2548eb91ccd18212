"""Change-tail sources: batch window reads + streaming tail.

The reference's change scans are HQL range queries over a CDC replica
table ordered by ``(ts, id)`` (jobs-facilities-cws/.../QueryConstants.
java:68-80; dao/CwsChangedIdentifierDao.java:62-75).  Here the tail is
a parquet directory of change events; the savepoint predicate is the
strict lexicographic ``(op_ts, lsn) > (sp_ts, sp_lsn)``:

    op_ts > sp_ts  OR  (op_ts = sp_ts AND lsn > sp_lsn)

Catalyst pushes the ``op_ts > sp_ts`` leg to the parquet scan
(PushedFilters + row-group min/max pruning), so resume cost scales
with the un-applied suffix of the log, not the full history — the
analog of the reference's DB index on IBMSNAP_LOGMARKER.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cwds_jobs_spark.schema import CHANGES_SCHEMA
from cwds_jobs_spark.state import SavePoint


def savepoint_predicate(sp: SavePoint):
    ts = F.lit(sp.ts)
    return (F.col("op_ts") > ts) | (
        (F.col("op_ts") == ts) & (F.col("lsn") > F.lit(sp.lsn))
    )


def savepoint_upper_bound(sp: SavePoint):
    """Inclusive ``(op_ts, lsn) <= bound`` — the reference's optional
    ``< :before`` window leg (AUD/NsAuditEventDao.java:35-36) and the
    multi-source pre-run high-watermark cap."""
    ts = F.lit(sp.ts)
    return (F.col("op_ts") < ts) | (
        (F.col("op_ts") == ts) & (F.col("lsn") <= F.lit(sp.lsn))
    )


def read_changes(
    spark: SparkSession,
    changes_dir: str,
    after: SavePoint | None = None,
    until: SavePoint | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Batch snapshot of the tail strictly after ``after`` and (when
    given) up to ``until`` inclusive — a closed change window."""
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true")
        .parquet(changes_dir)
        if schema is None
        else spark.read.option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(changes_dir)
    )
    if after is not None:
        df = df.filter(savepoint_predicate(after))
    if until is not None:
        df = df.filter(savepoint_upper_bound(until))
    return df


def source_high_watermark(df: DataFrame) -> SavePoint | None:
    """The tail's current max ``(op_ts, lsn)``, or None when it is
    empty: the initial load's cutover savepoint and each multi-source
    leg's pre-run bound (reference CapUsersSavePointService.java:39-47,
    CwsInitialJobModeFinalizer.java:34-45)."""
    row = df.agg(F.max(F.struct("op_ts", "lsn")).alias("m")).collect()[0]["m"]
    if row is None:
        return None
    return SavePoint(ts=row["op_ts"], lsn=row["lsn"])


def stream_changes(
    spark: SparkSession,
    changes_dir: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured Streaming tail over the changes directory.

    The file-source checkpoint tracks which files were consumed — the
    streaming analog of the savepoint file (SURVEY.md §2.9 T1).
    ``maxFilesPerTrigger`` is the batch-size knob, replacing the
    reference's k-th-row boundary probes (CwsChangedIdentifierDao.
    java:45-60): batch *sizing* is rate limiting here, while batch
    *correctness* comes from MERGE + ledger, so the reference's
    never-split-a-timestamp alignment constraint is unnecessary.
    """
    reader = spark.readStream.schema(schema or CHANGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("recursiveFileLookup", "true").parquet(changes_dir)


def write_changes_window(df: DataFrame, changes_dir: str, window_name: str) -> str:
    """Append one window of events as a new subdirectory of the tail.

    Mimics the CDC replica receiving new rows; each window is a
    separate dir so the file stream picks it up as new input.
    """
    path = os.path.join(changes_dir, window_name)
    df.write.mode("overwrite").parquet(path)
    return path
