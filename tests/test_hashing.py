import pytest
from pyspark.sql import functions as F

from data_prepper_spark.hashing import pmod, xxh64, xxh64_signed


def test_public_vectors():
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999


def test_matches_spark_xxhash64(spark):
    vals = [
        "", "a", "abc", "hello world",
        "https://site7.example/news/1234",
        "x" * 31, "y" * 32, "z" * 100, "w" * 33,
        "üñïçødé ✓", "the", "zanzibar",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", F.xxhash64("s").alias("h"), F.pmod(F.xxhash64("s"), F.lit(16)).alias("b")
    )
    for r in df.collect():
        assert xxh64_signed(r["s"]) == r["h"], r["s"]
        assert pmod(xxh64_signed(r["s"]), 16) == r["b"], r["s"]


def test_arrow_batch_matches_spark_xxhash64(spark):
    """The vectorized hash equals Spark's on every length class: the
    32-byte stripe loop, 8/4/1-byte tails, empty and non-ASCII."""
    import random

    import pyarrow as pa

    from data_prepper_spark.hashing import xxh64_signed_arrow

    rnd = random.Random(7)
    vals = ["", "üñïçødé ✓", "x" * 31, "y" * 32, "z" * 100] + [
        "".join(rnd.choice("abcxyz019") for _ in range(n)) for n in range(70)
    ]
    got = xxh64_signed_arrow(pa.array(vals)).tolist()
    want = [r["h"] for r in spark.createDataFrame([(v,) for v in vals], "s string")
            .select(F.xxhash64("s").alias("h")).collect()]
    assert got == want
    assert xxh64_signed_arrow(pa.array(vals).slice(3, 9)).tolist() == want[3:12]
