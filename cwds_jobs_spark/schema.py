"""Engine table schemas (FIXTURES.md §1, BASELINE.json input_hint).

Reference analogs:
- ``transcripts``: the sink document store — reference Elasticsearch
  index keyed by doc ``_id`` (jobs-common/.../elastic/
  ElasticsearchBulkOperationsService.java:36-58).
- ``changes``: the CDC replica tail — reference DB2 table with IBM
  SQL-Replication capture columns IBMSNAP_OPERATION / IBMSNAP_LOGMARKER
  (jobs-facilities-common/.../ReplicationPlacementHome.java:18-32),
  plus an explicit ``lsn`` total-order tiebreaker.
- ``job_state``: SavePointContainer {jobMode, savePoint, indexName}
  (jobs-common/.../savepoint/SavePointContainer.java:12-42).
- ``lineage``: ConsumerCounter / processed-flag analog (jobs-common/
  .../util/ConsumerCounter.java:5-27; jobs-audit-events/.../
  NsAuditEventDao.java:114-118).
"""

from __future__ import annotations

from pyspark.sql import types as T

KEY_COLS = ["conv_id", "turn_idx"]

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"
# reference enum RecordChangeOperation {I, U, D}
# (jobs-common/.../RecordChangeOperation.java:6-21)
VALID_OPS = (OP_INSERT, OP_UPDATE, OP_DELETE)

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

CHANGES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("op_ts", T.TimestampType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# schema-evolution variant: events gain a `tool` column mid-stream and
# turn_idx widens int→long (FIXTURES.md §2 "schema evolution")
CHANGES_SCHEMA_V0 = T.StructType(
    [f for f in CHANGES_SCHEMA.fields if f.name != "tool"]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("events_applied", T.LongType(), False),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("watermark_ts", T.TimestampType(), True),
    ]
)
