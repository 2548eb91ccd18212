"""Table maintenance: small-file compaction + snapshot vacuum.

Every MERGE commit rewrites its affected buckets into a fresh commit
directory, so a bucket's *current* file group is always one commit's
worth — but a long-running tail accumulates many small parquet files
inside a file group when the writing stage had many tasks.  At 10^10
rows small files dominate scan cost (file-open overhead, no row-group
pruning leverage), so periodic compaction is a first-class maintenance
op — the SnapshotTable analog of Iceberg's ``rewrite_data_files``.

The reference has no analog (Elasticsearch does its own segment
merging); this is Spark/lakehouse-specific operational surface.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from cwds_jobs_spark.table.snapshot import SnapshotTable


def bucket_file_counts(table: SnapshotTable) -> dict[int, int]:
    return {
        int(b): len(e["files"]) for b, e in table._snap["buckets"].items()
    }


def compact_buckets(
    table: SnapshotTable,
    *,
    max_files_per_bucket: int = 4,
    buckets: list[int] | None = None,
) -> int:
    """Rewrite buckets holding more than ``max_files_per_bucket`` files
    into a single file group each (one file per bucket via a
    bucket-local coalesce).  Atomic snapshot swap like any commit;
    readers never see a half-compacted table.  Returns the number of
    buckets rewritten.
    """
    counts = bucket_file_counts(table)
    todo = sorted(
        b
        for b, n in counts.items()
        if n > max_files_per_bucket and (buckets is None or b in buckets)
    )
    if not todo:
        return 0
    df = table.read(todo, include_internal=True)
    # overwrite_buckets clusters by bucket id -> one file per bucket
    table.overwrite_buckets(df, todo)
    return len(todo)


def vacuum(table: SnapshotTable, keep_snapshots: int = 2) -> dict:
    """Garbage-collect data files and snapshot metadata superseded by
    newer commits.

    Every MERGE commit writes a fresh ``commit-*`` directory and
    abandons the replaced files — without GC a long-running tail leaks
    disk without bound.  Retains the newest ``keep_snapshots`` snapshot
    JSONs (plus whatever ``_VERSION`` points at) and every data file
    any retained snapshot references; deletes the rest.  The analog of
    the reference's orphan-index cleanup
    (jobs-common/.../elastic/ElasticsearchService.java:168-179) and
    Iceberg's ``expire_snapshots`` + ``remove_orphan_files``.

    Readers of the retained snapshots are unaffected (files are only
    removed once unreferenced by ALL retained snapshots); time travel
    older than ``keep_snapshots`` is given up — the documented
    retention contract.
    """
    meta = os.path.join(table.path, "_meta")
    snaps = sorted(glob.glob(os.path.join(meta, "snap-*.json")))
    with open(os.path.join(meta, "_VERSION")) as f:
        current = os.path.join(meta, f.read().strip())
    retained = set(snaps[-max(1, keep_snapshots):]) | {current}
    live: set[str] = set()
    for sp in retained:
        if not os.path.exists(sp):
            continue
        with open(sp) as f:
            s = json.load(f)
        for e in s.get("buckets", {}).values():
            live.update(e["files"])
    removed_files = removed_bytes = 0
    for p in glob.glob(
        os.path.join(table.path, "data", "commit-*", "*", "*.parquet")
    ):
        if os.path.relpath(p, table.path) not in live:
            removed_bytes += os.path.getsize(p)
            os.remove(p)
            removed_files += 1
    removed_dirs = 0
    for d in glob.glob(os.path.join(table.path, "data", "commit-*")):
        has_parquet = any(
            fn.endswith(".parquet")
            for _r, _dirs, fns in os.walk(d)
            for fn in fns
        )
        if not has_parquet:
            shutil.rmtree(d)
            removed_dirs += 1
    removed_snaps = 0
    for sp in snaps:
        if sp not in retained:
            os.remove(sp)
            removed_snaps += 1
    return {
        "removed_files": removed_files,
        "removed_bytes": removed_bytes,
        "removed_commit_dirs": removed_dirs,
        "removed_snapshots": removed_snaps,
    }

