"""Generator determinism + distribution contracts (FIXTURES.md §4)."""

from pyspark.sql import functions as F

from cwds_jobs_spark.schema import CHANGES_SCHEMA
from cwds_jobs_spark.synth import synth_changes, synth_transcripts


def test_schema_matches_contract(spark):
    df = synth_changes(spark, 100)
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = [(f.name, f.dataType) for f in CHANGES_SCHEMA.fields]
    assert got == want


def test_deterministic_across_partitioning(spark):
    a = synth_changes(spark, 2000, n_convs=50, num_partitions=2).collect()
    b = synth_changes(spark, 2000, n_convs=50, num_partitions=16).collect()
    assert sorted(a, key=lambda r: r.lsn) == sorted(b, key=lambda r: r.lsn)


def test_lsn_unique_and_ts_groups(spark):
    df = synth_changes(spark, 1000, ts_group=4)
    assert df.select("lsn").distinct().count() == 1000
    # exactly ts_group events share each op_ts
    g = df.groupBy("op_ts").count().agg(F.max("count")).collect()[0][0]
    assert g == 4


def test_zipf_skew_present(spark):
    df = synth_changes(spark, 20000, n_convs=500, zipf=True)
    top = (
        df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    # Zipf s≈1: hottest conversation gets far more than uniform share (=40)
    assert top["count"] > 400


def test_delete_events_have_null_payload(spark):
    d = synth_changes(spark, 1000).filter("op = 'D'")
    assert d.count() > 0
    assert d.filter(F.col("text").isNotNull() | F.col("role").isNotNull()).count() == 0


def test_start_lsn_continues_stream(spark):
    w1 = synth_changes(spark, 100, start_lsn=0)
    w2 = synth_changes(spark, 100, start_lsn=100)
    m1 = w1.agg(F.max("lsn"), F.max("op_ts")).collect()[0]
    m2 = w2.agg(F.min("lsn"), F.min("op_ts")).collect()[0]
    assert m2[0] == m1[0] + 1 and m2[1] >= m1[1]


def test_transcripts_unique_keys(spark):
    t = synth_transcripts(spark, 500)
    assert t.count() == t.select("conv_id", "turn_idx").distinct().count()


def test_synth_docs_partition_stable_and_planted_dups(spark):
    """The dedup scale-step corpus generator (bench evidence chain):
    byte-identical at any parallelism, with planted near-dup pairs
    (ids 10k/10k+1 share 76 of 80 words -> shingle Jaccard ~0.9)."""
    from cwds_jobs_spark.synth import synth_docs

    a = synth_docs(spark, 400)
    b = synth_docs(spark, 400, num_partitions=7)
    assert sorted(r.text for r in a.collect()) == sorted(
        r.text for r in b.collect()
    )
    rows = {r.doc_id: r.text for r in a.collect()}
    # planted pair: high word overlap but not identical
    w0, w1 = set(rows[0].split()), set(rows[1].split())
    assert rows[0] != rows[1]
    assert len(w0 & w1) / len(w0 | w1) > 0.7
    # non-pair neighbors: near-zero overlap
    w2 = set(rows[2].split())
    assert len(w1 & w2) / len(w1 | w2) < 0.1
