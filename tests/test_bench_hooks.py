"""The benchmark's hooks into the engine stay wired.

``cdcbench/tracing.py`` wraps 16 engine functions by name where they
are called, and the ``replay`` workload marks each committed window by
a ``SavePointService.write`` call.  A refactor that renames an import
or adds a savepoint write would break ``--trace 1`` or ``replay``'s
window count without failing any engine test; this test catches both.
"""

from __future__ import annotations

import os
import sys

from cwds_jobs_spark.runner import CdcJobRunner, JobConfig
from cwds_jobs_spark.sources.changes import write_changes_window
from cwds_jobs_spark.synth import synth_changes

CDCBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cdcbench")


def _tracer(spark):
    sys.path.insert(0, CDCBENCH)
    try:
        from tracing import Tracer
    finally:
        sys.path.remove(CDCBENCH)
    return Tracer(spark)


def test_tracer_hooks_resolve_and_capped_drain_writes_one_savepoint_per_window(spark, ws):
    from cwds_jobs_spark import runner, state

    write_changes_window(
        synth_changes(spark, 200, n_convs=10, num_partitions=1), ws["changes"], "w0"
    )
    cfg = JobConfig(
        job_id="bench",
        changes_dir=ws["changes"],
        table_path=ws["table"],
        state_dir=ws["state"],
        lineage_dir=ws["lineage"],
        num_buckets=8,
        max_events_per_window=40,
    )
    CdcJobRunner(spark, cfg).run()  # initial load + cutover
    for i in range(3):  # three time-disjoint windows of exactly the cap
        ev = synth_changes(spark, 40, n_convs=10, start_lsn=200 + 40 * i, num_partitions=1)
        write_changes_window(ev, ws["changes"], f"w{i + 1}")

    originals = (runner.merge_apply, runner.read_changes, state.SavePointService.write)
    tracer = _tracer(spark)
    tracer.install()  # every wrapped name must resolve
    try:
        assert len(tracer._patches) == 16
        tracer.enabled = True
        out = CdcJobRunner(spark, cfg).run()
    finally:
        tracer.uninstall()
    assert (runner.merge_apply, runner.read_changes, state.SavePointService.write) == originals

    calls = [(s["layer"], s["fn"]) for s in tracer.spans]
    assert out["windows"] == 3
    assert calls.count(("state", "write")) == 3
    assert calls.count(("merge", "merge_apply")) == 3
