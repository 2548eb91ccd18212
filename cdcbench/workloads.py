"""The closed-loop workloads: ``replay`` and ``trickle``.

Each workload has one client: the next operation starts only after the
previous one has committed or returned.  ``setup`` is untimed by the
loop but reported as ``setup_s``; ``loop`` runs operations until the
run's seconds are spent; ``check`` compares the final table with the
DuckDB oracle.  Every operation is counted as attempted; an exception
or a wrong read counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from clock import elapsed, now, since
from cwds_jobs_spark.runner import CdcJobRunner, JobConfig
from cwds_jobs_spark.state import SavePointService
from cwds_jobs_spark.streaming.driver import run_tail_once
from cwds_jobs_spark.table.snapshot import SnapshotTable

NUM_BUCKETS = 16
SETUP_REPS = 3
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


class Workload:
    name = ""

    def __init__(self, spark, work: str, cache: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.samples = {"window_s": [], "lookup_s": [], "scan_s": []}
        self.window_events = 0
        self.window_time = 0.0
        self.initial_rates: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.ops = 0
        self.session_s = 0.0
        self.setup_parts: list[float] = []

    # ---------------------------------------------------------------- helpers

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def begin_op(self) -> None:
        """Start a top-level operation of the loop; a traced run traces
        every operation and nothing outside them."""
        self.ops += 1
        if self.tracer is not None:
            self.tracer.enabled = True
            self.tracer.op = self.ops

    def end_op(self) -> None:
        if self.tracer is not None:
            self.tracer.enabled = False

    def lookup(self, table_path: str, key, expect="skip") -> None:
        """Timed point read of one conversation; ``expect`` is the row a
        reader must see for ``key`` (None: the key must be absent)."""
        conv, turn = key
        self.attempted += 1
        t = now()
        rows = SnapshotTable.load(self.spark, table_path).lookup(conv).collect()
        self.samples["lookup_s"].append(since(t))
        if expect == "skip":
            return
        got = [r for r in rows if r["turn_idx"] == turn]
        if expect is None:
            ok = not got
        else:
            ok = len(got) == 1 and all(got[0][c] == expect[c] for c in ("role", "text", "tool"))
        if not ok:
            self.fail(f"read-your-writes {key}: got {got[:1]} expected {expect}")

    def scan(self, table_path: str) -> None:
        """Timed full read of the current snapshot, aggregated."""
        self.attempted += 1
        t = now()
        row = (
            SnapshotTable.load(self.spark, table_path).read()
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars"))
            .collect()[0]
        )
        self.samples["scan_s"].append(since(t))
        if not row["n"]:
            self.fail("scan returned an empty table")

    def warm_reads(self, table_path: str) -> float:
        """One untimed lookup and scan, so the loop's first reads do not
        pay the read path's first-use cost; returns the time taken."""
        t = now()
        tbl = SnapshotTable.load(self.spark, table_path)
        tbl.lookup("c0000000").collect()
        tbl.read().agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()
        return since(t)

    def build_base(
        self, base_path: str, root: str, job_id: str, cap: int | None = None
    ) -> float:
        """The engine's initial load (and cutover) of ``base_path`` into a
        fresh table under ``root``; returns its time."""
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "changes", "base"))
        shutil.copy(base_path, os.path.join(root, "changes", "base"))
        t = now()
        CdcJobRunner(self.spark, self.job_config(root, job_id, cap)).run()
        return since(t)

    @staticmethod
    def job_config(root: str, job_id: str, cap: int | None = None) -> JobConfig:
        return JobConfig(
            job_id=job_id,
            changes_dir=os.path.join(root, "changes"),
            table_path=os.path.join(root, "table"),
            state_dir=os.path.join(root, "state"),
            lineage_dir=os.path.join(root, "lineage"),
            num_buckets=NUM_BUCKETS,
            max_events_per_window=cap,
        )

    def check_table(self, table_path: str, initial: list[str], later: list[str], cols) -> dict:
        """Export the table and compare it with the oracle, untimed."""
        self.attempted += 1
        out = self.path("check")
        shutil.rmtree(out, ignore_errors=True)
        SnapshotTable.load(self.spark, table_path).read().select(*cols).write.parquet(out)
        res = oracle.compare(out, initial, later, cols, self.path("tmp"))
        if res["extra"] or res["missing"] or res["rows"] != res["expected_rows"]:
            self.fail(f"final table differs from oracle: {res}")
        return res

    def zipf_convs(self, convs: int, size: int) -> list[int]:
        """Conversation ids drawn like the generator's Zipf ranks."""
        perm = self.rng.permutation(convs)
        return perm[self.rng.choice(convs, size=size, p=gen.zipf_probs(convs))].tolist()

    # -------------------------------------------------------------- reporting

    def setup_s(self) -> float:
        return self.session_s + sum(self.setup_parts)

    def result(self) -> dict:
        return {
            "samples": self.samples,
            "window_events": self.window_events,
            "window_time": self.window_time,
            "initial_rate": statistics.median(self.initial_rates) if self.initial_rates else 0.0,
            "setup_s": self.setup_s(),
        }


class Replay(Workload):
    """Backlog drain from fresh state, then reads of the table it left.

    Each cycle: an initial load of a Zipf tail plus the finalizer
    cutover, a capped drain of two windows (footer-stats window
    planning; one deletes heavily), then a later incremental run of a
    window that adds a column on a few hot conversations, so the table
    ends with tombstones and two schema ids; then point lookups
    of keys just written and of Zipf-drawn conversations, and full
    scans.  The table is rebuilt from scratch every cycle."""

    name = "replay"
    CAP = 10_000
    CONVS = 8_000
    SHAPE = [
        gen.Segment("base", 60_000, CONVS),
        gen.Segment("w0", CAP, CONVS, p_delete=0.2),
        gen.Segment("w1", CAP, CONVS),
        # a few hot conversations: only their buckets take the new
        # schema, so reads align two schema ids
        gen.Segment("w2", CAP, CONVS, hot=6, extra_col=True),
    ]
    # windows each incremental run() finds in the tail; the new column
    # must arrive in a later run than the other windows, or the
    # mergeSchema read gives every window the evolved schema
    DRAINS = [["w0", "w1"], ["w2"]]
    WARM = [gen.Segment("base", 2_000, 500), gen.Segment("w0", 1_000, 500)]
    LOOKUPS = 6  # half on keys the last window wrote, half Zipf-drawn
    SCANS = 4
    COLS = COLS + ["lang"]

    def setup(self) -> None:
        self.tail = gen.materialize(self.cache, self.name, self.seed, self.SHAPE)
        warm = gen.materialize(self.cache, self.name + "-warm", self.seed, self.WARM)
        self.windows = [s.name for s in self.SHAPE[1:]]
        expect = oracle.last_events(self.tail[self.windows[-1]])
        keys = sorted(expect)
        pick = self.rng.choice(len(keys), size=self.LOOKUPS // 2, replace=False)
        self.probes = [(keys[i], expect[keys[i]]) for i in pick]
        self.probes += [((f"c{c:07d}", 0), "skip")
                        for c in self.zipf_convs(self.CONVS, self.LOOKUPS // 2)]
        self.events = {s.name: _rows(self.tail[s.name]) for s in self.SHAPE}
        # set-up: the cycle's code paths on a tiny tail; the initial load
        # is repeated, the drain and the reads warmed once
        root = self.path("warm")
        loads = [self.build_base(warm["base"], root, self.name, cap=1_000)
                 for _ in range(SETUP_REPS)]
        drain, _ = self._drain(warm, ["w0"], root)
        self.setup_parts = [statistics.median(loads), drain,
                            self.warm_reads(os.path.join(root, "table"))]
        shutil.rmtree(root, ignore_errors=True)
        self.roots: list[str] = []

    def _drain(self, tail, windows, root) -> tuple[float, list]:
        """Drop ``windows`` into the tail and drain them with one capped
        incremental ``run()``; returns its time and a clock mark per
        committed window (a window is durable once its savepoint is)."""
        for w in windows:
            os.makedirs(os.path.join(root, "changes", w))
            shutil.copy(tail[w], os.path.join(root, "changes", w))
        marks = [now()]
        orig = SavePointService.write

        def observe(svc, c):
            orig(svc, c)
            marks.append(now())

        SavePointService.write = observe
        try:
            CdcJobRunner(self.spark, self.job_config(root, self.name, self.CAP)).run()
        finally:
            SavePointService.write = orig
        return since(marks[0]), marks

    def loop(self, seconds: float) -> None:
        """Whole cycles; another starts while it would end nearer the
        run's seconds than stopping now would."""
        t0 = time.perf_counter()
        n = 0
        while n == 0 or (time.perf_counter() - t0) * (n + 0.5) / n < seconds:
            root = self.path(f"cycle{n}")
            self.begin_op()
            self.attempted += 1
            t_init = self.build_base(self.tail["base"], root, self.name, self.CAP)
            base_events = self.events["base"]
            self.initial_rates.append(base_events / t_init)
            self.window_events += base_events + sum(self.events[w] for w in self.windows)
            self.window_time += t_init
            for windows in self.DRAINS:
                t_drain, marks = self._drain(self.tail, windows, root)
                self.window_time += t_drain
                self.samples["window_s"].extend(
                    elapsed(a, b) for a, b in zip(marks, marks[1:])
                )
                if len(marks) - 1 != len(windows):
                    self.fail(f"drain committed {len(marks) - 1} windows, planned {windows}")
            table = os.path.join(root, "table")
            for key, row in self.probes:
                self.lookup(table, key, row)
            for _ in range(self.SCANS):
                self.scan(table)
            self.end_op()
            self.roots.append(root)
            n += 1

    def table(self):
        return SnapshotTable.load(self.spark, os.path.join(self.roots[-1], "table"))

    def check(self) -> dict:
        """Every cycle built the same table, and the last one matches
        the oracle."""
        prints = set()
        for root in self.roots:
            df = SnapshotTable.load(self.spark, os.path.join(root, "table")).read()
            prints.add(tuple(
                df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*self.COLS))).collect()[0]
            ))
        if len(prints) > 1:
            self.fail(f"cycles disagree on the final table: {sorted(prints)}")
        return self.check_table(
            os.path.join(self.roots[-1], "table"),
            [self.tail["base"]], [self.tail[w] for w in self.windows], self.COLS,
        )


class Trickle(Workload):
    """Freshness: small hot-set windows through the streaming driver, one
    window per ``run_tail_once``, on a base table built in setup."""

    name = "trickle"
    WINDOWS = 40
    # windows ~30 min of commit time apart: by a maintenance pass, the
    # tombstones of windows from more than the engine's one-hour lateness
    # bound ago are purgeable, so the pass rewrites buckets
    WINDOW = dict(events=2_000, convs=8_000, hot=1_000, gap_us=1_000_000)
    SHAPE = (
        [gen.Segment("base", 60_000, 8_000), gen.Segment("warm", **WINDOW)]
        + [gen.Segment(f"w{i:03d}", **w) for i, w in enumerate([WINDOW] * WINDOWS)]
    )
    MAINTENANCE_EVERY = 4

    def setup(self) -> None:
        self.tail = gen.materialize(self.cache, self.name, self.seed, self.SHAPE)
        self.root = self.path("t")
        builds = [self.build_base(self.tail["base"], self.root, "base")
                  for _ in range(SETUP_REPS)]
        base_events = _rows(self.tail["base"])
        self.initial_rates = [base_events / b for b in builds]
        os.makedirs(self.path("t", "stream"))
        self.applied = ["warm"]
        t = now()
        self._apply("warm")
        self.setup_parts = [
            statistics.median(builds),
            since(t),
            self.warm_reads(self.path("t", "table")),
        ]

    def _apply(self, seg: str) -> None:
        stream = self.path("t", "stream")
        tmp = os.path.join(stream, f".{seg}.tmp")
        shutil.copyfile(self.tail[seg], tmp)
        os.rename(tmp, os.path.join(stream, f"{seg}.parquet"))
        run_tail_once(
            self.spark,
            job_id="trickle",
            changes_dir=stream,
            table_path=self.path("t", "table"),
            checkpoint_dir=self.path("t", "checkpoint"),
            lineage_dir=self.path("t", "lineage"),
            max_files_per_trigger=1,
            maintenance_every=self.MAINTENANCE_EVERY,
        )

    def loop(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        table = self.path("t", "table")
        for seg in (s.name for s in self.SHAPE[2:]):
            if time.perf_counter() >= t_end:
                break
            expect = oracle.last_events(self.tail[seg])
            keys = sorted(expect)
            key = keys[int(self.rng.integers(len(keys)))]
            self.begin_op()
            self.attempted += 1
            t = now()
            self._apply(seg)
            dt_w = since(t)
            self.applied.append(seg)
            self.samples["window_s"].append(dt_w)
            self.window_events += _rows(self.tail[seg])
            self.window_time += dt_w
            self.lookup(table, key, expect[key])
            self.scan(table)
            self.end_op()

    def table(self):
        return SnapshotTable.load(self.spark, self.path("t", "table"))

    def check(self) -> dict:
        return self.check_table(
            self.path("t", "table"), [self.tail["base"]],
            [self.tail[s] for s in self.applied], COLS,
        )


WORKLOADS = {w.name: w for w in (Replay, Trickle)}
