"""cwds_jobs_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch reimagining of the job semantics of
LeonidMarushevskyi/cwds-jobs (the "Neutron" CARES ETL job suite):
a change-event tail (I/U/D ops keyed by ``(conv_id, turn_idx)``)
applied via key-partitioned MERGE into a bucketed lakehouse table of
conversation transcripts, savepoint-resumable, with initial-load /
incremental / resume job modes, last-writer-wins dedup, per-partition
lineage metrics, exactly-once replay and schema evolution.

This is NOT a port: the reference's batch iterator / reader pool /
bulk collector (jobs-common/src/main/java/gov/ca/cwds/jobs/common/
batch/BatchProcessor.java:43-54, BatchReadersPool.java:34-63,
elastic/BulkCollector.java:23-37) are subsumed by Spark's own
micro-batching, task parallelism and columnar sinks.  What survives is
the *semantic contract* — see SURVEY.md §7.0.

Layout
------
- ``session``     SparkSession factory (AQE, Arrow, UTC)
- ``schema``      StructTypes for transcripts / changes / job_state / lineage
- ``synth``       deterministic, partition-stable change-event and
                  document-corpus generators
- ``table``       bucketed snapshot table: compare-and-swap commit,
                  schema evolution, committed-batch ledger, maintenance
- ``operators``   LWW dedup, MERGE apply, tombstone compaction; document
                  near-dup mining and media features (corpus queries)
- ``functions``   vectorized text canonicalization / analysis
- ``sources``     changes-tail readers (batch + stream), footer-stats
                  window planning, paginated REST-style sources
- ``streaming``   Structured Streaming driver (foreachBatch + checkpoint),
                  sessionization, event-time windowed metrics
- ``state``       savepoint container + job-mode state machine
- ``lineage``     per-partition metrics table
- ``multisource`` per-source savepoint vector over union tails
- ``progress``    rows/sec + ETA reporting
- ``runner``      initial / incremental / resume job orchestration
- ``cli``         job entry point (``python -m cwds_jobs_spark``)
- ``oracle``      pure-Python LWW replay the tests check tables against
"""

__version__ = "0.1.0"
