"""grawler.xxh vs Spark's xxhash64: bit-for-bit equality so hash-dependent
oracles (minhash banding, simhash votes, bloom positions) can be
recomputed WITHOUT Spark."""

import numpy as np
import pyspark.sql.functions as F

from grawler.xxh import spark_xxhash64


def i32(v):
    return np.int32(v)


def test_strings_all_tail_lengths(spark):
    # cover every XXH64 code path: empty, <4, <8, 8..31, >=32, multi-stripe
    texts = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh",
             "the quick brown fox", "x" * 31, "x" * 32, "x" * 33,
             "p" * 64, "q" * 100, "héllo wörld ünïcode ✓"]
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", F.xxhash64("s").alias("h")).collect()}
    for t in texts:
        assert got[t] == spark_xxhash64(t), repr(t)


def test_longs_ints_and_chaining(spark):
    rows = [(0, 0), (1, -1), (2**31 - 1, 2**62), (-(2**31), -(2**62)), (7, 42)]
    df = spark.createDataFrame(rows, "i int, l long")
    got = df.select(
        F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"),
        F.xxhash64("i", "l").alias("hc"),
        F.xxhash64(F.lit(3), "l", "i", "l").alias("hm"),
    ).collect()
    for (i, l), r in zip(rows, got):
        assert r["hi"] == spark_xxhash64(i32(i)), i
        assert r["hl"] == spark_xxhash64(l), l
        assert r["hc"] == spark_xxhash64(i32(i), l)
        assert r["hm"] == spark_xxhash64(i32(3), l, i32(i), l)


def test_string_then_int_chain(spark):
    df = spark.createDataFrame([("shingle text", 5)], "s string, i int")
    got = df.select(F.xxhash64("s", "i").alias("h")).collect()[0]["h"]
    assert got == spark_xxhash64("shingle text", i32(5))
