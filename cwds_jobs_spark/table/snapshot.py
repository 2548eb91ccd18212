"""Bucketed snapshot table: the engine's lakehouse substrate.

Semantics are Iceberg's, scoped to what the CDC engine needs — this
sandbox ships no Iceberg runtime jar, so the MERGE target is this thin
metadata layer over parquet instead (the ``operators.merge`` module
also carries a real ``MERGE INTO`` SQL path that activates when an
Iceberg catalog is configured on a cluster):

- **Atomic snapshot commit** — data files are written to a fresh
  immutable directory, then a single JSON snapshot + pointer swap
  (``os.replace``, atomic on POSIX) publishes them.  Readers see
  either the old or the new version, never a mix.  This is the analog
  of the reference's atomic alias swap (jobs-common/.../elastic/
  ElasticsearchService.java:123-147).
- **Hash-bucket layout** — rows live in ``num_buckets`` buckets by
  ``xxhash64(conv_id)``.  A change batch only rewrites the buckets its
  keys hash into (bucket pruning), so MERGE cost scales with the batch
  footprint, not table size.  At 100 TB you'd run thousands of
  buckets; tests run 8-32.  Equivalent to Iceberg
  ``bucket(N, conv_id)`` partitioning.
- **Schema evolution** — each snapshot records a schema catalog and a
  per-bucket schema id.  Old buckets are *not* rewritten when a column
  is added or a type widens; the read path aligns every file group to
  the current schema (null-fill + cast), like Iceberg schema-id
  resolution.
- **Committed-batch ledger** — the snapshot carries
  ``{job_id: last_committed_batch_id}``.  Replayed ``foreachBatch``
  deliveries (at-least-once) are detected and skipped, making table
  state exactly-once (SURVEY.md §2.9 T3).

Savepoint/job-mode state intentionally lives *outside* this class
(``cwds_jobs_spark.state``), mirroring the reference's separation of
the savepoint file from the index
(jobs-common/.../savepoint/SavePointContainerServiceImpl.java:29-86).

File listing uses the local filesystem (sandbox); on a real cluster
swap ``_list_parquet`` for the Hadoop FileSystem API — the metadata
format itself is location-agnostic.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cwds_jobs_spark.table.xxhash64 import spark_xxhash64

BUCKET_COL = "_bucket"
FORMAT_VERSION = 1
# physical-only helper column written next to the data (never part of
# the logical schema — reads use an explicit .schema() so parquet
# ignores it): `_op_ts` when the row is a tombstone, else NULL.  Its
# parquet FOOTER stats then carry exact per-bucket tombstone facts for
# free: row-group null_count gives the exact tombstone count, and
# min/max (computed over non-null values only) give the exact oldest
# tombstone version — so `compact_tombstones` can pick purgeable
# buckets from snapshot metadata without scanning any data pages.
TOMB_TS_COL = "_tomb_ts"


def _tombstone_footer_stats(
    table_root: str, files: list[str]
) -> "dict | None":
    """Exact ``{"n": tombstones, "min_ts": iso-or-None}`` for a bucket's
    freshly written files, read from parquet footers only (zero data
    pages).  None when any row group lacks the column or usable stats
    (caller then records nothing — the maintenance probe falls back to
    a data scan for that bucket)."""
    import datetime as _dt

    import pyarrow.parquet as pq

    def naive(v):
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v if isinstance(v, _dt.datetime) else None

    n = 0
    mn: _dt.datetime | None = None
    for f in files:
        md = pq.ParquetFile(os.path.join(table_root, f)).metadata
        idx = None
        if md.num_row_groups:
            rg0 = md.row_group(0)
            for i in range(rg0.num_columns):
                if rg0.column(i).path_in_schema == TOMB_TS_COL:
                    idx = i
                    break
        if idx is None:
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(idx).statistics
            if st is None or st.null_count is None:
                return None
            k = rg.num_rows - st.null_count
            if k:
                if not st.has_min_max:
                    return None
                lo = naive(st.min)
                if lo is None:
                    return None
                n += int(k)
                mn = lo if mn is None or lo < mn else mn
    return {"n": n, "min_ts": mn.isoformat() if mn is not None else None}


def bucket_expr(num_buckets: int, col: str = "conv_id"):
    """Stable bucket id for a key column (seed-stable xxhash64)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets)).cast("int")


def _schema_fingerprint(schema: T.StructType) -> str:
    return json.dumps(schema.jsonValue(), sort_keys=True)


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str, snap: dict):
        self.spark = spark
        self.path = path
        self._snap = snap
        # (num_buckets, col) -> bucket Column; a Column is immutable and
        # reusable, and building one costs several JVM round trips
        self._bucket_exprs: dict = {}

    # ---------------- lifecycle ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        num_buckets: int = 32,
        key_cols: list[str] | None = None,
    ) -> "SnapshotTable":
        os.makedirs(os.path.join(path, "_meta"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        snap = {
            "format_version": FORMAT_VERSION,
            "version": 0,
            "num_buckets": num_buckets,
            "key_cols": key_cols or ["conv_id", "turn_idx"],
            "schemas": {"0": schema.jsonValue()},
            "current_schema_id": 0,
            "buckets": {},
            "ledger": {},
            "props": {},
        }
        tbl = cls(spark, path, snap)
        tbl._write_snapshot(snap)
        return tbl

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SnapshotTable":
        with open(os.path.join(path, "_meta", "_VERSION")) as f:
            snap_name = f.read().strip()
        with open(os.path.join(path, "_meta", snap_name)) as f:
            return cls(spark, path, json.load(f))

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "_meta", "_VERSION"))

    # ---------------- properties ----------------

    @property
    def version(self) -> int:
        return self._snap["version"]

    @property
    def num_buckets(self) -> int:
        return self._snap["num_buckets"]

    @property
    def key_cols(self) -> list[str]:
        return self._snap["key_cols"]

    @property
    def schema(self) -> T.StructType:
        sid = str(self._snap["current_schema_id"])
        return T.StructType.fromJson(self._snap["schemas"][sid])

    def committed_batch(self, job_id: str) -> int:
        return int(self._snap["ledger"].get(job_id, -1))

    def committed_watermark(self, job_id: str) -> dict | None:
        """The ``{"ts": iso, "lsn": int}`` high watermark of the last
        committed batch for ``job_id``, or None.

        Recorded atomically WITH the ledger entry so a crash between
        table commit and savepoint-file write is recoverable: the
        rerun's recomputed window is not reproducible (new tail files,
        approxQuantile rank error), so the savepoint must be restored
        from what was actually committed, not from the recomputed
        window's high watermark.
        """
        return self._snap.get("ledger_wm", {}).get(job_id)

    def bucket_of(self, col: str | None = None):
        key = (self.num_buckets, col or self.key_cols[0])
        if key not in self._bucket_exprs:
            self._bucket_exprs[key] = bucket_expr(*key)
        return self._bucket_exprs[key]

    def bucket_of_key(self, key_value: "str | None") -> int:
        """The bucket of one key value, computed on the driver (the same
        id :meth:`bucket_of` gives in Spark, with no Spark job)."""
        return spark_xxhash64(key_value) % self.num_buckets

    def bucket_meta(self) -> dict[int, dict]:
        """Per-bucket snapshot metadata (schema_id, files, and — when
        recorded at write time — ``tomb`` tombstone stats)."""
        return {int(b): e for b, e in self._snap["buckets"].items()}

    # ---------------- read ----------------

    def read(
        self, buckets: list[int] | None = None, include_internal: bool = False
    ) -> DataFrame:
        """Current snapshot, aligned to the current schema.

        ``buckets`` restricts the scan to the given bucket ids
        (bucket pruning — the MERGE path reads only affected buckets).

        Columns starting with ``_`` are engine-internal (row version
        vector ``_op_ts``/``_lsn`` and the ``_deleted`` tombstone flag
        written by the MERGE path).  The public read hides them and
        filters tombstones; the MERGE path reads them back with
        ``include_internal=True``.
        """
        cur = self.schema
        wanted = (
            self._snap["buckets"].items()
            if buckets is None
            else [(str(b), self._snap["buckets"][str(b)])
                  for b in buckets if str(b) in self._snap["buckets"]]
        )
        # group file lists by schema id (Iceberg-style schema resolution)
        by_sid: dict[str, list[str]] = {}
        for _b, entry in wanted:
            by_sid.setdefault(str(entry["schema_id"]), []).extend(entry["files"])
        parts: list[DataFrame] = []
        for sid, files in by_sid.items():
            if not files:
                continue
            file_schema = T.StructType.fromJson(self._snap["schemas"][sid])
            df = (
                self.spark.read.option("recursiveFileLookup", "true")
                .schema(file_schema)
                .parquet(*[os.path.join(self.path, f) for f in files])
            )
            parts.append(_align(df, cur))
        if not parts:
            out = self.spark.createDataFrame([], cur)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if not include_internal:
            internal = [f.name for f in cur.fields if f.name.startswith("_")]
            if "_deleted" in internal:
                # a SQL string is one JVM call; the same predicate built
                # from Column objects costs about ten
                out = out.filter("_deleted IS NOT TRUE")
            if internal:
                out = out.drop(*internal)
        return out

    def lookup(self, key_value) -> DataFrame:
        """Point read of one key: prunes the scan to the single bucket
        the key hashes into (the engine analog of the reference's
        per-id entity fetch, ChangedEntityService.java:11-20 — but the
        plan reads 1/num_buckets of the table, not an index probe).
        """
        return self.read([self.bucket_of_key(key_value)]).filter(
            F.col(self.key_cols[0]) == key_value
        )

    # ---------------- write / commit ----------------

    def overwrite_buckets(
        self,
        df: DataFrame,
        affected: list[int],
        *,
        new_schema: T.StructType | None = None,
        ledger_update: dict[str, int] | None = None,
        ledger_watermark: dict[str, dict] | None = None,
        write_tasks_per_bucket: int = 1,
        fold=None,
    ) -> None:
        """Atomically replace ``affected`` buckets with ``df``'s rows.

        ``df`` must already be in the (possibly evolved) table schema;
        rows are hashed into buckets here.  Buckets not listed keep
        their existing files untouched (this is what makes MERGE cost
        proportional to the batch, not the table).

        ``fold`` (the MERGE path) is applied to the rows AFTER they are
        clustered by bucket; it must group by ``(_bucket, *key_cols)``
        and keep ``_bucket``.  That grouping is already satisfied by the
        bucket clustering, so the fold and the write share the commit's
        single exchange.  See :meth:`_write_buckets` for the layout.
        """
        snap = {k: (dict(v) if isinstance(v, dict) else v) for k, v in self._snap.items()}
        snap["version"] = self.version + 1
        sid = self._intern_schema(snap, new_schema or self.schema)
        written = self._write_buckets(
            df,
            snap["version"],
            sid,
            self.bucket_of(),
            n_buckets=len(affected) or self.num_buckets,
            write_tasks_per_bucket=write_tasks_per_bucket,
            fold=fold,
        )
        for b in affected:
            snap["buckets"].pop(str(b), None)
        # rows may hash to buckets the caller did not claim (shouldn't
        # happen in merge, but initial load claims all buckets)
        snap["buckets"].update({str(b): e for b, e in written.items()})
        for k, v in (ledger_update or {}).items():
            snap["ledger"][k] = int(v)
        if ledger_watermark:
            snap["ledger_wm"] = dict(snap.get("ledger_wm", {}))
            snap["ledger_wm"].update(ledger_watermark)
        self._write_snapshot(snap)
        self._snap = snap

    def rebucket(self, new_num_buckets: int, write_tasks_per_bucket: int = 1) -> None:
        """Rewrite the table into ``new_num_buckets`` hash buckets.

        The growth path for a long-lived table: bucket count is fixed
        at creation (like Iceberg's ``bucket(N, ...)``), but a table
        that grows 100x needs proportionally more buckets to keep
        per-bucket rewrite cost bounded.  Full rewrite, one atomic
        snapshot swap; ledger and schema history carry over, so
        in-flight jobs resume cleanly against the new layout.
        """
        snap = {k: (dict(v) if isinstance(v, dict) else v) for k, v in self._snap.items()}
        snap["version"] = self.version + 1
        snap["num_buckets"] = int(new_num_buckets)
        written = self._write_buckets(
            self.read(include_internal=True),
            snap["version"],
            str(snap["current_schema_id"]),
            bucket_expr(new_num_buckets, self.key_cols[0]),
            n_buckets=new_num_buckets,
            write_tasks_per_bucket=write_tasks_per_bucket,
        )
        snap["buckets"] = {str(b): e for b, e in written.items()}
        self._write_snapshot(snap)
        self._snap = snap

    def _write_buckets(
        self,
        df: DataFrame,
        version: int,
        sid: str,
        bucket,
        *,
        n_buckets: int,
        write_tasks_per_bucket: int = 1,
        fold=None,
    ) -> dict[int, dict]:
        """Write ``df`` into a fresh commit dir, one file group per
        bucket; returns each written bucket's snapshot entry.

        Rows are clustered by bucket id before the write: without
        this, every upstream task holding rows for a bucket opens its
        own file there — ``tasks × buckets`` small files per commit,
        which at scale dominates scan and commit cost.  One shuffle
        buys one file per bucket (Iceberg's
        ``write.distribution-mode=hash``).  Each bucket lands in exactly
        one of ``min(n_buckets, defaultParallelism)`` write tasks, so a
        task may write several buckets but never shares one.
        ``write_tasks_per_bucket`` > 1 salts the clustering for huge
        buckets so several tasks (and files) share the write of one
        bucket (not combinable with ``fold``).
        """
        abs_dir = os.path.join(
            self.path, f"data/commit-{version:09d}-{uuid.uuid4().hex[:8]}"
        )
        out = df.withColumn(BUCKET_COL, bucket)
        if write_tasks_per_bucket > 1:
            salt = F.pmod(F.xxhash64(*self.key_cols), F.lit(write_tasks_per_bucket))
            out = out.repartition(
                n_buckets * write_tasks_per_bucket, F.col(BUCKET_COL), salt
            )
        else:
            n_tasks = min(n_buckets, self.spark.sparkContext.defaultParallelism)
            out = out.repartition(max(1, n_tasks), F.col(BUCKET_COL))
        if fold is not None:
            out = fold(out)
        track_tombs = "_deleted" in out.columns and "_op_ts" in out.columns
        if track_tombs:
            # physical-only column (not interned into the schema
            # catalog; reads pass an explicit .schema so it's ignored)
            # whose footer stats make tombstone maintenance
            # metadata-only — see TOMB_TS_COL
            out = out.withColumn(
                TOMB_TS_COL, F.expr("CASE WHEN _deleted THEN _op_ts END")
            )
        out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(abs_dir)

        def entry(files: list[str]) -> dict:
            e = {"schema_id": int(sid), "files": files}
            if track_tombs:
                t = _tombstone_footer_stats(self.path, files)
                if t is not None:
                    e["tomb"] = t
            return e

        return {
            b: entry(files) for b, files in _list_parquet(abs_dir, self.path).items()
        }

    def record_bucket_tomb_stats(self, stats: dict[int, dict]) -> None:
        """Metadata-only commit backfilling ``tomb`` tombstone stats for
        buckets written before footer tracking existed.

        ``compact_tombstones`` falls back to a restricted data probe for
        buckets with no ``tomb`` entry; recording the probe's result here
        makes that fallback once-per-bucket-lifetime instead of
        once-per-maintenance-cycle (the files are immutable until the
        bucket's next rewrite, which records fresh stats itself)."""
        if not stats:
            return
        snap = dict(self._snap)
        snap["version"] = self.version + 1
        snap["buckets"] = dict(snap["buckets"])
        for b, t in stats.items():
            entry = snap["buckets"].get(str(b))
            if entry is not None and "tomb" not in entry:
                entry = dict(entry)
                entry["tomb"] = {"n": int(t["n"]), "min_ts": t["min_ts"]}
                snap["buckets"][str(b)] = entry
        self._write_snapshot(snap)
        self._snap = snap

    def record_ledger(
        self, job_id: str, batch_id: int, watermark: dict | None = None
    ) -> None:
        """Ledger-only commit (e.g. an empty replayed batch)."""
        snap = dict(self._snap)
        snap["version"] = self.version + 1
        snap["ledger"] = dict(snap["ledger"])
        snap["ledger"][job_id] = int(batch_id)
        if watermark is not None:
            snap["ledger_wm"] = dict(snap.get("ledger_wm", {}))
            snap["ledger_wm"][job_id] = watermark
        self._write_snapshot(snap)
        self._snap = snap

    def _intern_schema(self, snap: dict, schema: T.StructType) -> str:
        fp = _schema_fingerprint(schema)
        for sid, sj in snap["schemas"].items():
            if _schema_fingerprint(T.StructType.fromJson(sj)) == fp:
                snap["current_schema_id"] = int(sid)
                return sid
        sid = str(max(int(s) for s in snap["schemas"]) + 1)
        snap["schemas"] = dict(snap["schemas"])
        snap["schemas"][sid] = schema.jsonValue()
        snap["current_schema_id"] = int(sid)
        return sid

    def _write_snapshot(self, snap: dict) -> None:
        meta = os.path.join(self.path, "_meta")
        name = f"snap-{snap['version']:09d}.json"
        tmp = os.path.join(meta, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(meta, name))
        ptmp = os.path.join(meta, f"._VERSION.{uuid.uuid4().hex[:8]}.tmp")
        with open(ptmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptmp, os.path.join(meta, "_VERSION"))


def _align_col(col, src: T.DataType, dst: T.DataType):
    """Align one column expression to ``dst``, recursing into structs
    (null-filling newly added nested fields — a plain ``cast`` cannot
    change struct arity) and arrays; scalars fall back to cast."""
    if src == dst:
        return col
    if isinstance(dst, T.StructType) and isinstance(src, T.StructType):
        have = {f.name: f for f in src.fields}
        sub = []
        for f in dst.fields:
            if f.name in have:
                sub.append(
                    _align_col(col[f.name], have[f.name].dataType, f.dataType)
                    .alias(f.name)
                )
            else:
                sub.append(F.lit(None).cast(f.dataType).alias(f.name))
        # preserve NULL structs instead of materializing all-null rows
        return F.when(col.isNull(), F.lit(None).cast(dst)).otherwise(
            F.struct(*sub)
        )
    if isinstance(dst, T.ArrayType) and isinstance(src, T.ArrayType):
        return F.transform(
            col, lambda x: _align_col(x, src.elementType, dst.elementType)
        )
    return col.cast(dst)


def _align(df: DataFrame, target: T.StructType) -> DataFrame:
    """Null-fill missing columns and align/cast to the target schema
    (recursively for nested struct payloads).  ``df`` itself is returned
    when its columns already match the target's names and types, in
    order — only evolved file groups pay for the projection."""
    fields = df.schema.fields
    if [(f.name, f.dataType) for f in fields] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    cols = []
    have = {f.name: f for f in fields}
    for f in target.fields:
        if f.name in have:
            cols.append(
                _align_col(F.col(f.name), have[f.name].dataType, f.dataType)
                .alias(f.name)
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def _list_parquet(commit_dir: str, table_root: str) -> dict[int, list[str]]:
    """Map bucket id -> table-relative parquet paths under a commit dir."""
    out: dict[int, list[str]] = {}
    for p in glob.glob(os.path.join(commit_dir, f"{BUCKET_COL}=*", "*.parquet")):
        b = int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
        out.setdefault(b, []).append(os.path.relpath(p, table_root))
    return out
