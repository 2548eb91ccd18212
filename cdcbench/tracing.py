"""Traced run: spans around the calls into each engine layer.

Functions are wrapped *where they are called*: ``runner`` and
``streaming.driver`` import ``merge_apply`` / ``read_changes`` /
``stream_changes`` by name, and ``operators.merge`` imports
``write_lineage`` by name, so those are patched in the calling module.
Methods are patched on their class.  Functions the engine imports at
call time (``file_stats``, maintenance) are patched on their defining
module.

Each span records its layer, parent (same thread), start and end, its
steal-adjusted duration (``clock``), and the top-level benchmark
operation it belongs to.  Self time is the span's duration minus its
children's.  While a span is open, the Spark
local property ``cdcbench.span`` carries its id, so every Spark job it
submits can be attributed to it from the event log (local properties
propagate into ``foreachBatch`` callbacks too).  Streaming per-batch
durations come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from clock import elapsed, now

SPAN_PROP = "cdcbench.span"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _parquet_files(root: str) -> int:
    n = 0
    for _r, _d, files in os.walk(root):
        n += sum(f.endswith(".parquet") and not f.startswith((".", "_")) for f in files)
    return n


def _table_files(tbl) -> set:
    return {f for e in tbl.bucket_meta().values() for f in e["files"]}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark
        self.enabled = False
        self.op = None  # id of the benchmark operation in flight
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.run_to_op: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._listener = None

    # ------------------------------------------------------------ wrapping

    def _wrap(self, owner, attr, layer, pre=None, post=None):
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            t_in = time.perf_counter()
            stack = tracer._stack()
            span = {
                "id": next(tracer._ids),
                "parent": stack[-1]["id"] if stack else None,
                "layer": layer,
                "fn": attr,
                "op": tracer.op,
            }
            ctx = pre(a, k) if pre else None
            prev = tracer.sc.getLocalProperty(SPAN_PROP)
            tracer.sc.setLocalProperty(SPAN_PROP, str(span["id"]))
            stack.append(span)
            start = now()
            try:
                res = orig(*a, **k)
            finally:
                end = now()
                span["start"], span["end"] = start[0], end[0]
                span["dur"] = elapsed(start, end)
                stack.pop()
                tracer.sc.setLocalProperty(SPAN_PROP, prev)
            if post:
                post(span, ctx, a, k, res)
            # the wrapper's own time around the call: the tracing overhead
            span["overhead"] = time.perf_counter() - t_in - (end[0] - start[0])
            with tracer._lock:
                tracer.spans.append(span)
            return res

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def install(self) -> None:
        from cwds_jobs_spark import runner, state
        from cwds_jobs_spark.operators import merge
        from cwds_jobs_spark.sources import file_stats
        from cwds_jobs_spark.streaming import driver
        from cwds_jobs_spark.table import maintenance
        from cwds_jobs_spark.table.snapshot import SnapshotTable

        def merge_post(span, _ctx, _a, _k, res):
            span["bucket_rows"] = res.get("bucket_rows") or 0
            span["affected_buckets"] = res.get("affected_buckets") or 0
            span["events"] = res.get("events") or 0

        def overwrite_pre(a, _k):
            return _table_files(a[0])

        def overwrite_post(span, before, a, _k, _res):
            tbl = a[0]
            new = _table_files(tbl) - before
            span["files_written"] = len(new)
            span["bytes_written"] = sum(
                os.path.getsize(os.path.join(tbl.path, f)) for f in new
            )

        def changes_post(span, _ctx, a, k, _res):
            span["files_listed"] = _parquet_files(k.get("changes_dir") or a[1])

        def runner_post(span, _ctx, _a, _k, res):
            span["mode"] = res.get("mode")
            span["windows"] = res.get("windows", 0)

        def stream_post(span, _ctx, _a, _k, query):
            self.run_to_op[str(query.runId)] = span["op"]

        def count_post(key):
            def post(span, _ctx, _a, _k, res):
                span[key] = res.get("removed_bytes", 0) if isinstance(res, dict) else int(res)
            return post

        self._wrap(runner.CdcJobRunner, "run", "runner", post=runner_post)
        self._wrap(runner, "merge_apply", "merge", post=merge_post)
        self._wrap(driver, "merge_apply", "merge", post=merge_post)
        self._wrap(runner, "read_changes", "changes", post=changes_post)
        self._wrap(driver, "stream_changes", "changes", post=changes_post)
        self._wrap(driver, "start_cdc_stream", "stream", post=stream_post)
        self._wrap(merge, "write_lineage", "lineage")
        self._wrap(file_stats, "collect_file_stats", "file_stats")
        self._wrap(file_stats, "plan_window_boundaries", "file_stats")
        self._wrap(SnapshotTable, "overwrite_buckets", "snapshot",
                   pre=overwrite_pre, post=overwrite_post)
        self._wrap(SnapshotTable, "read", "snapshot")
        self._wrap(SnapshotTable, "lookup", "snapshot")
        self._wrap(state.SavePointService, "write", "state")
        self._wrap(merge, "compact_tombstones", "maintenance", post=count_post("buckets"))
        self._wrap(maintenance, "compact_buckets", "maintenance", post=count_post("buckets"))
        self._wrap(maintenance, "vacuum", "maintenance", post=count_post("bytes_removed"))
        self._attach_listener()

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _attach_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "run": str(p.runId),
                            "batch": int(p.batchId),
                            "rows": int(p.numInputRows),
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Progress()
        self.spark.streams.addListener(self._listener)

    def await_progress(self, timeout_s: float = 10.0) -> None:
        """Progress events arrive asynchronously; wait until every traced
        query has reported a batch that read rows."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                seen = {p["run"] for p in self.progress if p["rows"] > 0}
            if set(self.run_to_op) <= seen:
                return
            time.sleep(0.1)

    # ------------------------------------------------------------ metrics

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        return {s["id"]: s["dur"] - child[s["id"]] for s in self.spans}

    def metrics(self, jobs: list[dict], table) -> dict[str, float]:
        """Per-layer metrics over the traced operations.  Per-window
        figures divide by the number of ``merge_apply`` calls (applied
        windows, the initial load counting as one)."""
        spans = self.spans
        selft = self.self_times()
        by_fn = defaultdict(list)
        for s in spans:
            by_fn[(s["layer"], s["fn"])].append(s)
        merges = by_fn[("merge", "merge_apply")]
        w = max(1, len(merges))

        def total_self(layer, fn=None):
            return sum(selft[s["id"]] for s in spans
                       if s["layer"] == layer and (fn is None or s["fn"] == fn))

        def durations(layer, fn):
            return [s["dur"] for s in by_fn[(layer, fn)]]

        overwrites = by_fn[("snapshot", "overwrite_buckets")]
        events = sum(s.get("events", 0) for s in merges)
        m = {
            "snapshot.overwrite_s": total_self("snapshot", "overwrite_buckets") / w,
            "snapshot.bytes_written": sum(s.get("bytes_written", 0) for s in overwrites) / w,
            "snapshot.files_written": sum(s.get("files_written", 0) for s in overwrites) / w,
            "snapshot.rows_rewritten_per_event":
                sum(s.get("bucket_rows", 0) for s in merges) / max(1, events),
            "snapshot.lookup_s": _median([selft[s["id"]] for s in by_fn[("snapshot", "lookup")]]),
            "snapshot.read_plan_s": _median([selft[s["id"]] for s in by_fn[("snapshot", "read")]]),
            "merge.apply_self_s": total_self("merge", "merge_apply") / w,
            "merge.affected_buckets": sum(s.get("affected_buckets", 0) for s in merges) / w,
            "merge.bucket_rows": sum(s.get("bucket_rows", 0) for s in merges) / w,
            "lineage.write_s": total_self("lineage") / w,
            "changes.read_s": total_self("changes") / w,
            "changes.files_listed": statistics.fmean(
                [s["files_listed"] for s in spans if s["layer"] == "changes"] or [0]
            ),
            "file_stats.plan_s": total_self("file_stats")
            / max(1, len(by_fn[("file_stats", "collect_file_stats")])),
            "runner.self_s": total_self("runner") / w,
            "state.savepoint_write_s": _median(durations("state", "write")),
        }
        m.update(self._snapshot_shape(table))
        m.update(self._runner_passes(by_fn))
        m.update(self._stream_metrics())
        m.update(self._maintenance(spans))
        m.update(self._spark(jobs, spans, merges, w))
        ops = max(1, len({s["op"] for s in spans}))
        m["trace.overhead_s"] = sum(s["overhead"] for s in spans) / ops
        return m

    @staticmethod
    def _snapshot_shape(table) -> dict:
        meta = table.bucket_meta()
        files = [f for e in meta.values() for f in e["files"]]
        return {
            "snapshot.max_files_per_bucket": max((len(e["files"]) for e in meta.values()), default=0),
            "snapshot.schema_ids": len({e["schema_id"] for e in meta.values()}),
            "snapshot.table_bytes": sum(os.path.getsize(os.path.join(table.path, f)) for f in files),
        }

    def _runner_passes(self, by_fn) -> dict:
        """Windows and empty passes per incremental runner call: each
        loop pass reads the tail once, and a pass that applies nothing
        is empty."""
        from cwds_jobs_spark.state import INCREMENTAL_LOAD

        runs = [s for s in by_fn[("runner", "run")] if s.get("mode") == INCREMENTAL_LOAD]
        if not runs:
            return {"runner.windows": 0, "runner.empty_passes": 0}
        children = defaultdict(lambda: defaultdict(int))
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]][s["fn"]] += 1
        empty = [children[r["id"]]["read_changes"] - children[r["id"]]["merge_apply"]
                 for r in runs]
        return {
            "runner.windows": statistics.fmean(r["windows"] for r in runs),
            "runner.empty_passes": statistics.fmean(empty),
        }

    def _stream_metrics(self) -> dict:
        batches = [p for p in self.progress if p["run"] in self.run_to_op and p["rows"] > 0]

        def med(key):
            return _median([p["ms"].get(key, 0) / 1000.0 for p in batches])

        return {
            "stream.batch_s": med("triggerExecution"),
            "stream.add_batch_s": med("addBatch"),
            "stream.query_planning_s": med("queryPlanning"),
            "stream.wal_commit_s": med("walCommit"),
            "stream.latest_offset_s": med("latestOffset"),
        }

    @staticmethod
    def _maintenance(spans) -> dict:
        passes = defaultdict(lambda: {"s": 0.0, "buckets": 0, "bytes": 0})
        for s in spans:
            # the three maintenance calls run one after another after a
            # window's merge; none nests inside another
            if s["layer"] == "maintenance":
                p = passes[s["op"]]
                p["s"] += s["dur"]
                p["buckets"] += s.get("buckets", 0)
                p["bytes"] += s.get("bytes_removed", 0)
        ps = list(passes.values())
        return {
            "maintenance.s": statistics.fmean([p["s"] for p in ps]) if ps else 0.0,
            "maintenance.buckets_rewritten": statistics.fmean([p["buckets"] for p in ps]) if ps else 0,
            "maintenance.bytes_removed": statistics.fmean([p["bytes"] for p in ps]) if ps else 0,
        }

    def _spark(self, jobs, spans, merges, w) -> dict:
        parent = {s["id"]: s["parent"] for s in spans}
        traced_ids = set(parent)
        mine = [j for j in jobs if j["span"] in traced_ids]
        tasks = [t for j in mine for st in j["stages"] for t in st["tasks"]]

        def root_merge(span_id):
            while span_id is not None:
                if span_id in merge_ids:
                    return span_id
                span_id = parent.get(span_id)
            return None

        merge_ids = {s["id"] for s in merges}
        stages_by_merge = defaultdict(list)
        for j in mine:
            m = root_merge(j["span"])
            if m is not None:
                stages_by_merge[m].extend(j["stages"])
        skews = []
        for stages in stages_by_merge.values():
            big = max(
                (st for st in stages if len(st["tasks"]) >= 2),
                key=lambda st: sum(t["run_s"] for t in st["tasks"]),
                default=None,
            )
            if big is not None:
                runs = [t["run_s"] for t in big["tasks"]]
                skews.append(max(runs) / max(statistics.median(runs), 1e-3))
        return {
            "spark.jobs_per_window": len(mine) / w,
            "spark.shuffle_write_bytes": sum(t["sw"] for t in tasks) / w,
            "spark.shuffle_read_bytes": sum(t["sr"] for t in tasks) / w,
            "spark.spill_bytes": sum(t["spill"] for t in tasks) / w,
            "spark.task_s": sum(t["run_s"] for t in tasks) / w,
            "spark.gc_s": sum(t["gc_s"] for t in tasks) / w,
            "spark.merge_stage_skew": _median(skews),
        }

    def layer_breakdown(self, jobs) -> dict:
        """Spark task seconds and job counts per layer (innermost span),
        for the trace file."""
        layer_of = {s["id"]: s["layer"] for s in self.spans}
        out = defaultdict(lambda: {"jobs": 0, "task_s": 0.0})
        for j in jobs:
            layer = layer_of.get(j["span"])
            if layer is None:
                continue
            out[layer]["jobs"] += 1
            out[layer]["task_s"] += sum(t["run_s"] for st in j["stages"] for t in st["tasks"])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "stream_progress": self.progress, **extra},
                      f, default=str)


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from a Spark JSON event log: ``span`` (the ``cdcbench.span``
    local property at submission) and per-stage task metrics."""
    jobs, stage_job, tasks = [], {}, defaultdict(list)
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    span = (e.get("Properties") or {}).get(SPAN_PROP)
                    jobs.append({"job": e["Job ID"], "span": int(span) if span else None,
                                 "stage_ids": e["Stage IDs"]})
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    m = e["Task Metrics"]
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks[e["Stage ID"]].append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "sw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    for j in jobs:
        # a stage shared by several jobs (reused shuffle) counts once, for
        # the job that submitted it first
        j["stages"] = [{"stage": sid, "tasks": tasks.get(sid, [])}
                       for sid in j.pop("stage_ids") if stage_job.get(sid) == j["job"]]
    return jobs
