"""CDC apply benchmark: one command, two workloads, optional trace.

    python3 cdcbench/run.py --workload {replay,trickle} --seed N \
        --seconds S --trace {0,1} [--cores 4 --driver-mem 1g --shuffle-partitions 8]

Run from the root of a checkout of the repository.  Prints a table of
every metric with its unit and sample count, then, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Exits 1 when any operation
failed or the final table differs from the oracle, 2 when the engine is
not found.

Everything the run writes stays under ``.cdcbench/`` in the checkout:
the input cache, one fresh scratch directory per run (removed at exit)
and the traced runs' span files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_Q = 0.9


def metric_units() -> tuple[dict, dict]:
    """``{name: unit}`` for the end-to-end and the per-layer metrics, in
    the order ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["replay", "trickle"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--driver-mem", default="1g")
    p.add_argument("--shuffle-partitions", type=int, default=8)
    return p.parse_args(argv)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this process plus the JVM, from /proc."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def end_to_end(res: dict, rss: float) -> tuple[dict, dict]:
    s = res["samples"]
    win, look, scan = s["window_s"], s["lookup_s"], s["scan_s"]
    values = {
        "setup_s": res["setup_s"],
        "events_per_s": res["window_events"] / res["window_time"] if res["window_time"] else 0.0,
        "initial_load_events_per_s": res["initial_rate"],
        "window_latency_p50_s": quantile(win, 0.5),
        "window_latency_tail_s": quantile(win, TAIL_Q),
        "lookup_latency_p50_s": quantile(look, 0.5),
        "lookup_latency_tail_s": quantile(look, TAIL_Q),
        "scan_s": quantile(scan, 0.5),
        "peak_rss_mb": rss,
    }
    counts = {
        "window_latency_p50_s": len(win), "window_latency_tail_s": len(win),
        "lookup_latency_p50_s": len(look), "lookup_latency_tail_s": len(look),
        "scan_s": len(scan), "events_per_s": len(win),
    }
    return values, counts


def start_spark(args, work: str, trace: bool):
    from cwds_jobs_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "cdcbench",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=conf,
    )
    spark.range(1).collect()  # the session is usable
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cwds_jobs_spark")):
        print(f"cdcbench: engine package cwds_jobs_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    state = os.path.join(ROOT, ".cdcbench")
    work = os.path.join(state, "work", f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(state, "traces"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "SPARK_GRAFT_CPUS": str(args.cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # every JVM the launcher starts: temp files in the scratch dir, and
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    try:
        return run(args, state, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, state: str, work: str) -> int:
    from clock import now, since, stolen_s
    from tracing import Tracer, parse_event_log
    from workloads import WORKLOADS

    e2e_units, layer_units = metric_units()
    trace = bool(args.trace)
    t = now()
    spark = start_spark(args, work, trace)
    session_s = since(t)
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    tracer = Tracer(spark) if trace else None
    wl = WORKLOADS[args.workload](spark, work, os.path.join(state, "cache"), args.seed, tracer)
    wl.session_s = session_s
    check, table, rss = {}, None, 0.0
    phases = {"session": session_s}
    try:
        if tracer is not None:
            tracer.install()
        _phase(phases, "setup", wl.setup)
        t = now()
        _phase(phases, "loop", wl.loop, args.seconds)
        phases["loop_steal"] = stolen_s(t, now())
        rss = peak_rss_mb(jvm.pid if jvm else None)
        if tracer is not None:
            tracer.await_progress()
            tracer.uninstall()
        table = wl.table()
        check = _phase(phases, "check", wl.check)
    except Exception:
        traceback.print_exc()
        wl.attempted += 1
        wl.fail("exception: " + traceback.format_exc(limit=1).strip().splitlines()[-1])
    finally:
        _phase(phases, "stop", stop_spark, spark)
    print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()), file=sys.stderr)
    for k, xs in wl.samples.items():
        print(f"samples {k}: " + " ".join(f"{x:.3f}" for x in xs), file=sys.stderr)

    res = wl.result()
    values, counts = end_to_end(res, rss)
    if trace and table is not None:
        jobs = parse_event_log(os.path.join(work, "eventlog"))
        layer = tracer.metrics(jobs, table)
        out = os.path.join(state, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.dump(out, {"metrics": layer, "end_to_end": values,
                          "layer_breakdown": tracer.layer_breakdown(jobs), "jobs": jobs})
        print(f"trace written to {os.path.relpath(out, ROOT)}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()}

    _print_table(args.workload, wl, values, counts, check, e2e_units, trace, metrics)
    correct = wl.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, wl.attempted),
                      "failed": wl.failed, "metrics": metrics}))
    return 0 if correct else 1


def _phase(phases: dict, name: str, fn, *a):
    t = time.perf_counter()
    try:
        return fn(*a)
    finally:
        phases[name] = time.perf_counter() - t


def _print_table(workload, wl, values, counts, check, units, trace, metrics) -> None:
    print(f"# cdcbench {workload} seed={wl.seed} ({'traced' if trace else 'untraced'})")
    for name in units:
        n = counts.get(name)
        extra = f"  n={n}" if n is not None else ""
        print(f"  {name:<28} {values[name]:>14.4f} {units[name]:<9}{extra}")
    ratio = wl.failed / max(1, wl.attempted)
    print(f"  {'failed_ops_ratio':<28} {ratio:>14.4f} {'ratio':<9}  "
          f"({wl.failed}/{wl.attempted})")
    if trace:
        for name, m in metrics.items():
            print(f"  {name:<34} {m['value']:>16.4f} {m['unit']}")
    if check:
        print(f"  oracle: {check}")
    for e in wl.errors[:10]:
        print(f"  FAILED: {e}")


if __name__ == "__main__":
    sys.exit(main())
