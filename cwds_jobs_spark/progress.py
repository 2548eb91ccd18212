"""Throughput / ETA reporting (SURVEY.md §2.11 C4).

Reference analogs: the wall-clock job report (jobs-common/.../
timereport/JobTimeReport.java:14-20) and the linear ETA estimator —
``time_left = (total - done) × elapsed_ms_per_item``
(jobs-common/.../timereport/TimeLeftEstimationProvider.java:24-45),
fed by the entities-written counter (util/ConsumerCounter.java:5-27).

Spark-native surfaces:

- :class:`ProgressReporter` — driver-side counter with the same linear
  estimator.  The batch runner calls ``update`` per window; the stream
  driver calls it per applied micro-batch, inside ``foreachBatch``
  after the commit, and writes the snapshot to the ``_progress.json``
  sidecar next to the lineage rows — so the reported rate never runs
  ahead of or behind the table state.
"""

from __future__ import annotations

import time
from typing import Callable


class ProgressReporter:
    """Linear-rate progress estimator (events/sec + ETA).

    ``clock`` is injectable for tests; defaults to ``time.monotonic``.
    """

    def __init__(
        self,
        total_expected: int | None = None,
        clock: Callable[[], float] = time.monotonic,
    ):
        self._clock = clock
        self.start = clock()
        self.total_expected = total_expected
        self.events = 0
        self.batches = 0

    def update(self, events: int) -> None:
        self.events += int(events)
        self.batches += 1

    def snapshot(self) -> dict:
        elapsed = max(self._clock() - self.start, 1e-9)
        rate = self.events / elapsed
        eta = None
        if self.total_expected is not None and self.events > 0:
            # reference estimator: remaining × elapsed-per-item
            # (TimeLeftEstimationProvider.java:35-41)
            eta = (self.total_expected - self.events) * (elapsed / self.events)
        return {
            "events": self.events,
            "batches": self.batches,
            "elapsed_sec": round(elapsed, 3),
            "events_per_sec": round(rate, 1),
            "eta_sec": None if eta is None else round(max(eta, 0.0), 3),
            "pct_done": (
                None
                if not self.total_expected
                else round(100.0 * self.events / self.total_expected, 2)
            ),
        }

