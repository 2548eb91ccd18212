"""Seeded change-tail generator for the benchmark (numpy + pyarrow only).

Deliberately independent of ``cwds_jobs_spark.synth``: an engine change
that edits the engine's own generator cannot change what is measured.
The engine only ever receives the parquet files written here.

A tail is a list of *segments*; each segment is one parquet file whose
events are strictly later, in ``(op_ts, lsn)`` order, than every event
of the segments before it.  That makes "apply segments 0..i" a
well-defined prefix of the change log, which is what the oracle and the
read-your-writes probes rely on.

Files are written atomically into a cache directory keyed by
``(workload, seed, shape)`` and reused by later runs with the same key.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import uuid
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated data changes for an unchanged shape, so stale
# cache entries are not reused
GEN_VERSION = 2
T0 = dt.datetime(2024, 1, 1)
TURNS = 8  # turn_idx is uniform over 0..TURNS-1
ZIPF = 1.1  # exponent of the conversation popularity law
P_UPDATE = 0.25  # share of U events; deletes take p_delete, I the rest
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
TOOLS = np.array(["search", "python", "browser", "sql", "shell"], dtype=object)
_WORDS = (
    "the engine applies change events to a bucketed table keyed by "
    "conversation and turn while readers scan snapshots and the tail keeps "
    "growing with updates deletes inserts and late arrivals across many "
    "users agents tools prompts replies summaries"
).split()


@dataclass(frozen=True)
class Segment:
    """One file of the tail: ``events`` drawn Zipf-like over ``convs``
    conversations; ``hot`` > 0 spreads them uniformly over a random hot
    set of that many conversations instead.  Commit times are ``gap_us``
    apart on average."""

    name: str
    events: int
    convs: int
    hot: int = 0
    p_delete: float = 0.05
    extra_col: bool = False  # adds a ``lang`` column (schema evolution)
    gap_us: int = 200_000


def zipf_probs(n: int) -> np.ndarray:
    """Probability of each popularity rank among ``n`` conversations."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF
    return w / w.sum()


def _texts(rng: np.random.Generator, lsn: np.ndarray) -> list[str]:
    bank = [
        " ".join(rng.choice(_WORDS, size=rng.integers(4, 24)))
        for _ in range(2048)
    ]
    pick = rng.integers(0, len(bank), size=len(lsn))
    # the lsn suffix makes every event's text unique, so a stale winner
    # can never compare equal to the right one
    return [f"{bank[i]} #{n}" for i, n in zip(pick.tolist(), lsn.tolist())]


def _segment_table(
    rng: np.random.Generator, seg: Segment, lsn0: int, ts0: dt.datetime
) -> pa.Table:
    n = seg.events
    # a seeded permutation maps Zipf rank -> conversation id, so the hot
    # conversations land in random hash buckets
    perm = rng.permutation(seg.convs)
    if seg.hot:
        hot_ids = rng.choice(seg.convs, size=seg.hot, replace=False)
        conv = hot_ids[rng.integers(0, seg.hot, size=n)]
    else:
        conv = perm[rng.choice(seg.convs, size=n, p=zipf_probs(seg.convs))]
    u = rng.random(n)
    op = np.where(
        u < seg.p_delete, "D", np.where(u < seg.p_delete + P_UPDATE, "U", "I")
    ).astype(object)
    lsn = lsn0 + np.arange(n, dtype=np.int64)
    # non-decreasing commit times with ~10% equal-timestamp ties, so the
    # lsn tie-break is exercised
    gaps = rng.integers(0, 2 * seg.gap_us, size=n) * (rng.random(n) > 0.1)
    op_ts_us = np.cumsum(gaps).astype(np.int64) + 1
    base_us = int((ts0 - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    op_ts = base_us + op_ts_us
    is_del = op == "D"
    role = ROLES[rng.integers(0, len(ROLES), size=n)]
    tool = np.where(rng.random(n) < 0.3, TOOLS[rng.integers(0, len(TOOLS), size=n)], None)
    text = np.array(_texts(rng, lsn), dtype=object)
    event_ts = op_ts - rng.integers(0, 60_000_000, size=n)
    role[is_del] = None
    text[is_del] = None
    tool[is_del] = None
    ts_type = pa.timestamp("us", tz="UTC")
    cols = {
        "conv_id": pa.array([f"c{c:07d}" for c in conv.tolist()], pa.string()),
        "turn_idx": pa.array(rng.integers(0, TURNS, size=n).astype(np.int32)),
        "op": pa.array(op.tolist(), pa.string()),
        "op_ts": pa.array(op_ts, ts_type),
        "lsn": pa.array(lsn, pa.int64()),
        "role": pa.array(role.tolist(), pa.string()),
        "text": pa.array(text.tolist(), pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(np.where(is_del, None, event_ts).tolist(), ts_type),
    }
    if seg.extra_col:
        langs = np.array(["en", "es", "fr", "de"], dtype=object)
        lang = langs[rng.integers(0, len(langs), size=n)]
        lang[is_del] = None
        cols["lang"] = pa.array(lang.tolist(), pa.string())
    return pa.table(cols)


def _key(workload: str, seed: int, segments: list[Segment]) -> str:
    shape = json.dumps([asdict(s) for s in segments], sort_keys=True)
    digest = hashlib.sha256(f"{GEN_VERSION}|{workload}|{seed}|{shape}".encode()).hexdigest()[:16]
    return f"{workload}-s{seed}-{digest}"


def materialize(
    cache_root: str, workload: str, seed: int, segments: list[Segment]
) -> dict[str, str]:
    """Write (or reuse) the tail; returns ``{segment name: parquet path}``.

    Segment ``i`` starts strictly after segment ``i-1`` ends, in both
    ``op_ts`` and ``lsn``.
    """
    root = os.path.join(cache_root, _key(workload, seed, segments))
    paths = {s.name: os.path.join(root, f"{s.name}.parquet") for s in segments}
    if os.path.exists(os.path.join(root, "_DONE")):
        return paths
    tmp = f"{root}.{uuid.uuid4().hex[:8]}.tmp"
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, int(hashlib.sha256(workload.encode()).hexdigest()[:8], 16)])
    lsn, ts = 1, T0
    for s in segments:
        tbl = _segment_table(rng, s, lsn, ts)
        pq.write_table(tbl, os.path.join(tmp, f"{s.name}.parquet"))
        lsn += s.events
        last_us = tbl.column("op_ts")[-1].value
        ts = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=last_us + 1_000)
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, root)
    except OSError:  # another run materialized the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return paths

