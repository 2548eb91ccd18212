"""Key-partitioned MERGE of a change window into the transcripts table.

Semantics follow the reference's bulk writer (jobs-common/.../elastic/
ElasticWriter.java:67-89): op I/U → full-document upsert by key,
op D → delete by key, unknown key + D → no-op (the reference logs and
skips, ElasticWriter.java:80-82).  Equivalent SQL (runs verbatim on an
Iceberg catalog — see :func:`iceberg_merge_sql`)::

    MERGE INTO transcripts t USING batch s
      ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND s.op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

Physical plan (SnapshotTable path) —
two passes over the window, the probe and the merge:

1. **Window probe** (``lineage.probe_window``): one small aggregate
   job grouped by ``(spark_partition_id(), bucket)``.  Its ≤
   partitions × buckets rows give the driver the lineage rows (written
   with pyarrow, no Spark job), the event count, the ``(op_ts, lsn)``
   high watermark and the affected-bucket list.  Drivers that need
   the watermark before the merge run the probe themselves and pass
   it in, so each window is probed exactly once.
2. **Bucket-prune**: read ONLY the affected buckets of the target.
   Merge cost is proportional to the batch footprint, not table size
   — the property that keeps a 10^10-row table mergeable.
3. **Version-aware apply**: every stored row carries its version
   vector ``(_op_ts, _lsn)`` and a ``_deleted`` tombstone flag; the
   merge is ``union(target, raw batch events) → max(struct(version,
   row))`` per key.  This makes apply **commutative and idempotent
   across batches** — a stale event delivered late (distributed file
   tails do not guarantee LSN-ordered delivery across micro-batches)
   can never overwrite a newer row, and a tombstone blocks
   resurrection by an older insert.  The reference gets the same end
   state only by assuming strictly ordered delivery
   (QueryConstants.java:72-73,80 + sequential ElasticWriter); that
   assumption does not survive a parallel tail, so the
   order-dependence is engineered out here.
4. **Single-exchange write**: the unaggregated union is clustered by
   bucket (the one shuffle of the merge), and the LWW fold runs after
   that exchange, grouped by ``(_bucket, *key_cols)`` — the bucket
   clustering already satisfies that grouping, so there is no second
   shuffle.  The write then swaps the affected buckets atomically,
   one file per bucket, in ``min(buckets, defaultParallelism)`` tasks.

Skew bound: with no map-side combine before the exchange, a hot key's
raw events all fold inside its bucket's write task.  That task's input
is bounded by the bucket's stored rows plus the window's events, and
the window is bounded by ``max_events_per_window`` in the runner
(``max_files_per_trigger`` files in the stream), so a hot key costs at
most one window of events in one task.

Exactly-once: the committed-batch ledger inside the snapshot makes a
replayed ``foreachBatch`` delivery a no-op (SURVEY.md §7.3).

Tombstones are dropped once the tail watermark minus the allowed
lateness has passed them (no event with a smaller version can still
arrive; :func:`dead_tombstone` is the one predicate).  Given a
``purge_before`` bound, the LWW fold drops them while it rewrites a
bucket anyway, so a stream that purges pays nothing extra for it;
``compact_tombstones`` handles only the buckets no recent merge
rewrote, and decides that from snapshot metadata.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from cwds_jobs_spark.lineage import WindowProbe, probe_window, write_lineage
from cwds_jobs_spark.operators.dedup import lww_dedup
from cwds_jobs_spark.schema import OP_DELETE
from cwds_jobs_spark.table.evolve import merge_schemas
from cwds_jobs_spark.table.snapshot import BUCKET_COL, SnapshotTable, _align

VERSION_TS = "_op_ts"
VERSION_LSN = "_lsn"
TOMBSTONE = "_deleted"
_MIN_TS = dt.datetime(1970, 1, 1)


def merge_apply(
    table: SnapshotTable,
    batch_df: DataFrame,
    *,
    job_id: str,
    batch_id: int,
    lineage_dir: str | None = None,
    drop_deletes: bool = False,
    watermark: "tuple | dict | None" = None,
    probe: WindowProbe | None = None,
    purge_before: "dt.datetime | None" = None,
) -> dict:
    """Apply one change window; returns per-batch stats.

    ``drop_deletes=True`` is the initial-load mode: D events are
    filtered out entirely, matching the reference's initial queries
    (jobs-facilities-cws/.../QueryConstants.java:42,50 — ``!= 'D'``).

    ``batch_df`` MUST be deterministic across re-evaluation: the
    window probe and the merge are the two passes over it (see the
    module docstring), and the merge reads only the buckets the probe
    saw.  A row that re-evaluates into an unclaimed bucket would still
    be committed (``overwrite_buckets`` records every bucket it wrote)
    but bypasses bucket pruning.  Callers on the hot path (runner,
    streaming driver) pass persisted or parquet-backed windows, so no
    persist is forced here.

    ``probe`` is the caller's :func:`~cwds_jobs_spark.lineage.probe_window`
    of ``batch_df`` (with this table's ``bucket_of()``); without it the
    window is probed here.  It cannot be combined with
    ``drop_deletes``, which changes the window after the caller's probe.
    The returned stats carry the probe's ``events`` and ``high``
    watermark.

    ``watermark`` is the window's ``(op_ts, lsn)`` high watermark; it
    is recorded atomically WITH the ledger entry.  A ledger-skipped
    replay returns it as ``committed_watermark`` so the caller can
    restore its savepoint from what was actually committed — the
    recomputed window on a crash-rerun may be a superset of the
    committed one (new tail files arrived, approxQuantile cut drift),
    and advancing the savepoint from it would skip the difference.
    A multi-source union window passes a ``{source: (op_ts, lsn)}``
    dict instead; the ledger then carries one watermark column per
    source (reference CapUsersSavePoint.java:9-47 vector analog).

    ``purge_before`` drops, from the rewritten buckets, every LWW winner
    that is a tombstone with ``_op_ts < purge_before`` (see
    :func:`dead_tombstone`).  The filter runs after the fold and before
    the write, so ``bucket_rows`` and the buckets' footer tombstone
    stats describe what was written.  Only a caller that owns the
    source's lateness contract may pass it (the stream with
    ``maintenance_every``); without it every tombstone is kept.
    """
    if probe is not None and drop_deletes:
        raise ValueError("a caller's probe cannot describe a drop_deletes window")
    if batch_id <= table.committed_batch(job_id):
        return {
            "skipped": True,
            "batch_id": batch_id,
            "events": 0,
            "committed_batch": table.committed_batch(job_id),
            "committed_watermark": table.committed_watermark(job_id),
        }
    if watermark is None:
        wm = None
    elif isinstance(watermark, dict):
        wm = {
            "sources": {
                name: {"ts": t[0].isoformat(), "lsn": int(t[1])}
                for name, t in watermark.items()
            }
        }
    else:
        wm = {"ts": watermark[0].isoformat(), "lsn": int(watermark[1])}

    if drop_deletes:
        batch_df = batch_df.filter(F.col("op") != OP_DELETE)
    if probe is None:
        probe = probe_window(batch_df, table.bucket_of())
    if lineage_dir:
        write_lineage(probe, lineage_dir, job_id, batch_id)
    stats = {
        "skipped": False,
        "batch_id": batch_id,
        "events": probe.events,
        "high": probe.high,
    }
    affected = probe.buckets
    if not affected:
        table.record_ledger(job_id, batch_id, watermark=wm)
        return {**stats, "bucket_rows": 0, "affected_buckets": 0}

    # batch events in table shape + version vector + tombstone flag.
    # NO pre-dedup pass: the per-key LWW over (target ∪ raw batch)
    # below subsumes it — max(struct) over the union picks the same
    # winner, in ONE payload shuffle instead of two.
    payload_cols = [
        c for c in batch_df.columns
        if c not in table.key_cols and c not in ("op", "op_ts", "lsn")
    ]
    # SQL strings: one JVM call per column instead of about five
    events = batch_df.selectExpr(
        *[_ident(c) for c in table.key_cols + payload_cols],
        f"op_ts AS {VERSION_TS}",
        f"lsn AS {VERSION_LSN}",
        f"op = '{OP_DELETE}' AS {TOMBSTONE}",
    )

    cur_schema = table.schema
    merged = merge_schemas(cur_schema, events.schema)
    evolved = merged is not cur_schema

    target = table.read(affected, include_internal=True)
    combined = _align(target, merged).unionByName(_align(events, merged))

    # per-key LWW across (target ∪ batch), run by overwrite_buckets
    # after its bucket exchange.  Legacy rows without a version vector
    # rank lowest.  The row rides in a nested struct so the winner
    # unpacks with one ``_w.row.*`` instead of one column per field.
    non_key = [f.name for f in merged.fields if f.name not in table.key_cols]
    packed = F.expr(
        f"max(named_struct("
        f"'__vt', coalesce({VERSION_TS}, TIMESTAMP'{_MIN_TS.isoformat(' ')}'), "
        f"'__vl', coalesce({VERSION_LSN}, -1L), "
        f"'row', struct({', '.join(_ident(c) for c in non_key)})))"
    )
    obs = Observation(f"merge-{job_id}-{batch_id}")

    def lww_fold(clustered: DataFrame) -> DataFrame:
        won = (
            clustered.groupBy(BUCKET_COL, *table.key_cols)
            .agg(packed.alias("_w"))
            .selectExpr(BUCKET_COL, *[_ident(c) for c in table.key_cols], "_w.row.*")
        )
        if purge_before is not None:
            won = won.filter(~dead_tombstone(purge_before))
        return won.observe(obs, F.count(F.lit(1)).alias("n_keys"))

    table.overwrite_buckets(
        combined,
        affected,
        new_schema=merged if evolved else None,
        ledger_update={job_id: batch_id},
        ledger_watermark={job_id: wm} if wm is not None else None,
        fold=lww_fold,
    )
    return {
        **stats,
        # rows now in the rewritten buckets — batch winners PLUS the
        # untouched keys that happened to live in the same buckets
        # (collected during the write via observe(), no extra pass).
        # NOT the batch event count; that is ``events``.
        "bucket_rows": obs.get["n_keys"],
        "affected_buckets": len(affected),
    }


def _ident(name: str) -> str:
    """``name`` quoted as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dead_tombstone(purge_before) -> Column:
    """True (never null) for a tombstone whose version is older than
    ``purge_before``.  Once the tail watermark minus the allowed
    lateness has passed a tombstone's version, no event it must still
    win against can arrive, so it is dead weight.  The merge fold
    (``merge_apply(purge_before=…)``) and :func:`compact_tombstones`
    drop exactly these rows."""
    return F.coalesce(
        F.col(TOMBSTONE) & (F.col(VERSION_TS) < F.lit(purge_before)), F.lit(False)
    )


def compact_tombstones(table: SnapshotTable, watermark_ts) -> int:
    """Drop tombstones with version ts < the tail watermark.

    Once the source watermark has passed a tombstone's version, no
    event with a smaller version can still arrive, so the tombstone is
    dead weight.  Rewrites only buckets that actually hold purgeable
    tombstones.  Returns the number of buckets compacted.

    The probe is METADATA-ONLY: every commit records exact per-bucket
    ``(n tombstones, min tombstone version)`` in the snapshot, derived
    from the written files' parquet footers (see ``TOMB_TS_COL`` in
    ``table.snapshot`` — null_count arithmetic, zero data pages), so a
    maintenance cycle on a 10^10-row table touches no data files when
    nothing is purgeable.  Buckets written before tombstone tracking
    (no ``tomb`` entry) fall back to a data probe restricted to those
    buckets only, and the probed ``(n, min_ts)`` facts are written BACK
    into the snapshot (``record_bucket_tomb_stats``) so the fallback
    runs once per bucket lifetime, not once per maintenance cycle —
    the files are immutable until the bucket's next rewrite, which
    records fresh stats itself.
    """
    if TOMBSTONE not in [f.name for f in table.schema.fields]:
        return 0
    hits: set[int] = set()
    unknown: list[int] = []
    for b, entry in table.bucket_meta().items():
        t = entry.get("tomb")
        if t is None:
            unknown.append(b)
        elif t["n"] > 0 and t["min_ts"] is not None and (
            dt.datetime.fromisoformat(t["min_ts"]) < watermark_ts
        ):
            hits.add(b)
    if unknown:
        # full (n, min_ts) probe — same restricted scan the purge
        # decision needs, but its result is recorded so the NEXT cycle
        # decides these buckets from metadata alone
        is_tomb = F.coalesce(F.col(TOMBSTONE), F.lit(False))
        probe = (
            table.read(unknown, include_internal=True)
            .groupBy(table.bucket_of().alias("b"))
            .agg(
                F.sum(is_tomb.cast("int")).alias("n"),
                F.min(F.when(is_tomb, F.col(VERSION_TS))).alias("min_ts"),
            )
            .collect()
        )
        found = {
            int(r["b"]): {
                "n": int(r["n"] or 0),
                "min_ts": r["min_ts"].isoformat()
                if (r["n"] or 0) > 0 and r["min_ts"] is not None
                else None,
            }
            for r in probe
        }
        stats = {b: found.get(b, {"n": 0, "min_ts": None}) for b in unknown}
        table.record_bucket_tomb_stats(stats)
        for b, t in stats.items():
            if t["n"] > 0 and t["min_ts"] is not None and (
                dt.datetime.fromisoformat(t["min_ts"]) < watermark_ts
            ):
                hits.add(b)
    buckets = sorted(hits)
    if not buckets:
        return 0
    kept = table.read(buckets, include_internal=True).filter(
        ~dead_tombstone(watermark_ts)
    )
    table.overwrite_buckets(kept, buckets)
    return len(buckets)


# ---------------------------------------------------------------------------
# Iceberg catalog path — used on a real cluster with
# iceberg-spark-runtime on the classpath; not executable in this
# sandbox (no jar), kept as the production MERGE implementation.
# ---------------------------------------------------------------------------

def iceberg_merge_sql(target: str, source_view: str, key_cols: list[str]) -> str:
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    return f"""
        MERGE INTO {target} t
        USING {source_view} s
        ON {on}
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *
    """


def iceberg_available(spark) -> bool:
    """True when an Iceberg SQL extension/catalog is configured."""
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "IcebergSparkSessionExtensions" in ext


def merge_apply_iceberg(
    spark, target_table: str, batch_df: DataFrame, key_cols: list[str]
) -> None:
    """Production path: LWW-dedup then a single atomic MERGE INTO.

    Iceberg gives snapshot-atomic commit, bucket(N, conv_id) partition
    pruning and schema merge (``write.spark.accept-any-schema`` +
    ``mergeSchema``) natively; the SnapshotTable path above mirrors
    those semantics 1:1 so tests here certify the same behavior.
    """
    deduped = lww_dedup(batch_df, key_cols)
    view = "cdc_batch_src"
    deduped.createOrReplaceTempView(view)
    spark.sql(iceberg_merge_sql(target_table, view, key_cols))
