"""Deterministic synthetic transcripts / change-event generator.

Replaces the reference's Liquibase-seeded H2 fixtures
(jobs-common/src/test/resources/testcases/testcase{1..12}/*.xml) with a
*partition-stable* Spark generator: every column is a pure function of
the row's ``lsn`` via ``xxhash64`` — no ``F.rand`` (whose value depends
on task/partition layout), no wall clock.  The same (n_events, seed)
always produces byte-identical data on any cluster size, which is what
makes the two-parallelism scaling benchmark an apples-to-apples run.

Skew: ``conv_id`` is drawn log-uniform over ranks, i.e. Zipf(s≈1) —
hot conversations exist by construction (FIXTURES.md §4), exercising
the merge's in-bucket LWW fold under skew.

Scale: generation is a single ``spark.range(n)`` projection — no
shuffle, no driver loop — so it synthesizes 10^10 events on a real
cluster as happily as 10^3 here.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH = dt.datetime(2020, 1, 1, 0, 0, 0)
ROLES = ["user", "assistant", "system", "tool"]


def _u(col, salt: int, seed: int):
    """Deterministic uniform [0,1) derived from a column, not F.rand."""
    return (F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed))) % 1_000_000) / 1_000_000.0


def _h(col, salt: int, seed: int, mod: int):
    return (F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed))) % mod).cast("int")


def synth_changes(
    spark: SparkSession,
    n_events: int,
    *,
    n_convs: int | None = None,
    max_turns: int = 50,
    seed: int = 42,
    ts_group: int = 4,
    zipf: bool = True,
    p_insert: float = 0.60,
    p_update: float = 0.30,
    start_lsn: int = 0,
    with_tool_col: bool = True,
    messy_text: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Change-event tail: (conv_id, turn_idx, op, op_ts, lsn, payload…).

    - ``lsn`` is globally unique & monotone (= row id + start_lsn).
    - ``op_ts`` groups ``ts_group`` consecutive LSNs onto one timestamp,
      reproducing the reference's equal-timestamp batching scenarios
      (testcases 5-7, jobs-common test fixture testcase9/test_case_9.xml).
    - ops mix ≈ 60% I / 30% U / 10% D; ``D`` rows carry null payload.
    - ``start_lsn`` lets callers append later windows of the same stream.
    """
    if n_convs is None:
        n_convs = max(1, n_events // 20)
    rng = spark.range(n_events, numPartitions=num_partitions).select(
        (F.col("id") + start_lsn).alias("lsn")
    )
    lsn = F.col("lsn")

    if zipf:
        # log-uniform rank => p(rank) ∝ 1/rank (Zipf s≈1)
        conv_rank = F.floor(
            F.exp(_u(lsn, 1, seed) * F.log(F.lit(float(n_convs)))) - 0.5
        ).cast("long")
        conv_rank = F.least(conv_rank, F.lit(n_convs - 1))
    else:
        conv_rank = _h(lsn, 1, seed, n_convs).cast("long")

    u_op = _u(lsn, 3, seed)
    op = (
        F.when(u_op < p_insert, F.lit("I"))
        .when(u_op < p_insert + p_update, F.lit("U"))
        .otherwise(F.lit("D"))
    )
    op_ts = F.timestamp_seconds(
        F.lit(int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()))
        + F.floor(lsn / ts_group)
    )

    conv_id = F.format_string("conv_%08d", conv_rank)
    turn_idx = _h(lsn, 2, seed, max_turns)
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]), _h(lsn, 4, seed, 4) + 1)
    base_text = F.format_string(
        "turn text %s #%d rev %d word%d word%d.",
        conv_id,
        turn_idx,
        lsn,
        _h(lsn, 5, seed, 1000),
        _h(lsn, 6, seed, 1000),
    )
    if messy_text:
        base_text = F.concat(F.lit("  "), base_text, F.lit("   \t"))
    is_del = op == "D"

    cols = [
        conv_id.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        op.alias("op"),
        op_ts.alias("op_ts"),
        lsn.alias("lsn"),
        F.when(is_del, F.lit(None)).otherwise(role).alias("role"),
        F.when(is_del, F.lit(None)).otherwise(base_text).alias("text"),
    ]
    if with_tool_col:
        tool = F.when(
            ~is_del & (role == "tool"), F.format_string("tool_%d", _h(lsn, 7, seed, 7))
        ).otherwise(F.lit(None))
        cols.append(tool.alias("tool"))
    cols.append(F.when(is_del, F.lit(None)).otherwise(op_ts).alias("ts"))
    return rng.select(*cols)


def synth_transcripts(
    spark: SparkSession,
    n_rows: int,
    *,
    n_convs: int | None = None,
    max_turns: int = 50,
    seed: int = 7,
) -> DataFrame:
    """A base/target table snapshot: one row per (conv_id, turn_idx)."""
    ev = synth_changes(
        spark,
        n_rows,
        n_convs=n_convs,
        max_turns=max_turns,
        seed=seed,
        p_insert=1.0,
        p_update=0.0,
    )
    # distinct keys, keeping the latest payload
    from cwds_jobs_spark.operators.dedup import lww_dedup

    return lww_dedup(ev).drop("op", "op_ts", "lsn")


def synth_docs(
    spark: SparkSession,
    n_docs: int,
    *,
    seed: int = 11,
    words_per_doc: int = 80,
    vocab: int = 20_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic document corpus with planted near-dup pairs for
    scale-step dedup benchmarks (doc ids ``(10k, 10k+1)`` share a base
    word sequence with ~5% of words mutated → shingle Jaccard ≈ 0.8-0.9,
    simhash Hamming small).  Same partition-stable xxhash construction
    as :func:`synth_changes`: a pure function of doc_id, byte-identical
    at any parallelism, no driver loop — generates 10^9 docs on a real
    cluster as happily as 10^3 here."""
    rng = spark.range(n_docs, numPartitions=num_partitions)
    doc = F.col("id")
    pair_member = (doc % 10) == 1
    base = F.when(pair_member, doc - 1).otherwise(doc)
    words = []
    for k in range(words_per_doc):
        w = F.format_string("w%05d", _h(base, 100 + k, seed, vocab))
        if k % 20 == 7:  # mutate 4 of 80 words in the pair member
            w = F.when(
                pair_member,
                F.format_string("m%05d", _h(doc, 200 + k, seed, vocab)),
            ).otherwise(w)
        words.append(w)
    return rng.select(
        doc.cast("long").alias("doc_id"),
        F.concat_ws(" ", *words).alias("text"),
    )
