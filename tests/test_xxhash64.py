"""The driver-side ``xxhash64`` matches Spark's, so a point lookup can
pick its bucket without a Spark job."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from cwds_jobs_spark.schema import TRANSCRIPTS_SCHEMA
from cwds_jobs_spark.table.snapshot import SnapshotTable, bucket_expr
from cwds_jobs_spark.table.xxhash64 import spark_xxhash64, xxh64

ALPHABET = "abcXYZ019 _-/é漢字🙂\u0000"


def _keys(n: int) -> list[str]:
    rng = random.Random(7)
    keys = ["", "a", "conv_00000001", "é", "漢字", "🙂" * 9, "x" * 31, "y" * 32, "z" * 33]
    keys += ["k" * m for m in range(70)]  # every tail length around 8/32
    while len(keys) < n:
        keys.append("".join(rng.choice(ALPHABET) for _ in range(rng.randrange(0, 80))))
    return keys


def test_xxh64_reference_vectors():
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999


def test_matches_spark_xxhash64_and_bucket(spark, tmp_path):
    keys = _keys(1200)
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    got = df.select(
        "conv_id",
        F.xxhash64("conv_id").alias("h"),
        bucket_expr(13).alias("b"),
    ).collect()
    assert len(got) == len(keys)
    for r in got:
        assert spark_xxhash64(r["conv_id"]) == r["h"], repr(r["conv_id"])
        assert spark_xxhash64(r["conv_id"]) % 13 == r["b"], repr(r["conv_id"])
    assert spark_xxhash64(None) == spark.range(1).select(
        F.xxhash64(F.lit(None).cast("string"))
    ).first()[0]
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), TRANSCRIPTS_SCHEMA, num_buckets=13)
    assert all(tbl.bucket_of_key(r["conv_id"]) == r["b"] for r in got)
