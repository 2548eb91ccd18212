"""Per-partition lineage / metrics table (SURVEY.md §2.11 C4, §2.1 S13).

Reference analogs: the written-entities counter (jobs-common/.../util/
ConsumerCounter.java:5-27), the audit job's bulk "mark processed"
finalizer (jobs-audit-events/.../NsAuditEventDao.java:114-118), and the
wall-clock / ETA reporting (jobs-common/.../timereport/*).

Each applied window leaves one row per input partition:
``(job_id, batch_id, partition_id, events_applied, max_lsn,
watermark_ts)``.

The rows come from the window probe (:func:`probe_window`): ONE small
aggregate job per window, grouped by ``(spark_partition_id(), bucket)``,
whose ≤ partitions × buckets result rows give the driver everything the
window's bookkeeping needs — the lineage rows, the affected-bucket list
for pruning, the event count and the ``(op_ts, lsn)`` high watermark.
The window is not re-scanned for any of them.

:func:`write_lineage` then writes the ≤ partitions rows from the driver
with pyarrow (no Spark job) into ``job=<id>/batch=<n>/``: a temp file is
renamed into place and any other file in that directory (a replayed
delivery's earlier write) is removed, so a replayed at-least-once
delivery rewrites the same single file — lineage is idempotent, never
double-counted (FIXTURES.md §2 "replayed batch").
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cwds_jobs_spark.schema import LINEAGE_SCHEMA

LINEAGE_FILE = "part-00000.parquet"


@dataclass(frozen=True)
class WindowProbe:
    """What one aggregate pass over a change window tells the driver."""

    # (partition_id, events_applied, max_lsn, watermark_ts micros UTC)
    partitions: list[tuple[int, int, int, int]]
    buckets: list[int]  # affected bucket ids, sorted
    events: int
    # (op_ts, lsn) of the window's last event; None for an empty window
    high: "tuple[dt.datetime, int] | None"
    # per-source (op_ts, lsn) high watermarks, when probed by source
    sources: "dict[str, tuple[dt.datetime, int]] | None" = None


def probe_window(
    df: DataFrame, bucket_expr: Column, source_col: str | None = None
) -> WindowProbe:
    """One ``groupBy(spark_partition_id(), bucket)`` aggregate over a
    change window, collected to the driver (≤ partitions × buckets
    rows; map-side partial aggregation keeps the shuffle as small).

    ``source_col`` (a union of several tails) joins the grouping, and
    the probe's ``sources`` then gives each source's high watermark
    from the same aggregate."""
    keys = [F.spark_partition_id().alias("p"), bucket_expr.alias("b")]
    if source_col is not None:
        keys.append(F.col(source_col).alias("s"))
    rows = (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("lsn").alias("lsn"),
            F.unix_micros(F.max("op_ts")).alias("ts_us"),
            F.max(F.struct("op_ts", "lsn")).alias("hi"),
        )
        .collect()
    )
    parts: dict[int, list[int]] = {}
    for r in rows:
        p = parts.setdefault(r["p"], [0, r["lsn"], r["ts_us"]])
        p[0] += r["n"]
        p[1] = max(p[1], r["lsn"])
        p[2] = max(p[2], r["ts_us"])
    his = [(r["hi"]["op_ts"], r["hi"]["lsn"]) for r in rows]
    sources = None
    if source_col is not None:
        sources = {}
        for r, hi in zip(rows, his):
            sources[r["s"]] = max(hi, sources.get(r["s"], hi))
    return WindowProbe(
        partitions=[(pid, *parts[pid]) for pid in sorted(parts)],
        buckets=sorted({r["b"] for r in rows}),
        events=sum(r["n"] for r in rows),
        high=max(his) if his else None,
        sources=sources,
    )


def write_lineage(
    probe: WindowProbe, lineage_dir: str, job_id: str, batch_id: int
) -> str:
    """Write a window's lineage rows from the driver; returns the file.

    Overwrites the batch's own directory only — idempotent under
    micro-batch replay.  Timestamps are written as UTC micros, the
    parquet type Spark itself writes for ``TimestampType``.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(lineage_dir, f"job={job_id}", f"batch={batch_id}")
    os.makedirs(d, exist_ok=True)
    pids, counts, lsns, ts_us = list(zip(*probe.partitions)) or [()] * 4
    n = len(pids)
    table = pa.table(
        {
            "job_id": pa.array([job_id] * n, pa.string()),
            "batch_id": pa.array([batch_id] * n, pa.int64()),
            "partition_id": pa.array(pids, pa.int32()),
            "events_applied": pa.array(counts, pa.int64()),
            "max_lsn": pa.array(lsns, pa.int64()),
            "watermark_ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        }
    )
    # dot-prefixed: Spark's file listing skips it until the rename
    tmp = os.path.join(d, f".{LINEAGE_FILE}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(table, f)
        # durable before the rename: a crash after the table commit must
        # not leave an empty lineage file that the ledger never rewrites
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(d, LINEAGE_FILE)
    os.replace(tmp, final)
    for name in os.listdir(d):
        if name != LINEAGE_FILE:
            os.remove(os.path.join(d, name))
    return final


def read_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame:
    if not os.path.exists(lineage_dir):
        return spark.createDataFrame([], LINEAGE_SCHEMA)
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(LINEAGE_SCHEMA)
        .parquet(lineage_dir)
    )
