"""Bloom prefilter: exactness (no false negatives), shuffle-avoidance
fraction, incremental merge."""

import pyspark.sql.functions as F

from grawler import bloom


def _urls(spark, prefix, n):
    return spark.range(n).select(
        F.concat(F.lit(f"http://{prefix}.example/p/"), "id").alias("url"))


def test_bloom_anti_join_exact(spark):
    seen = _urls(spark, "a", 500)
    frontier = _urls(spark, "a", 800)  # 500 overlap + 300 new
    segs = bloom.build_segments(seen, m=1 << 14)
    got = sorted(
        r["url"] for r in
        bloom.bloom_anti_join(frontier, seen, segs, m=1 << 14).collect())
    want = sorted(
        r["url"] for r in
        frontier.join(seen, "url", "left_anti").collect())
    assert got == want  # bloom never changes the exact result
    assert len(got) == 300


def test_bloom_routes_most_new_urls_around_join(spark):
    seen = _urls(spark, "a", 500)
    new = _urls(spark, "b", 2000)  # disjoint
    segs = bloom.build_segments(seen, m=1 << 16)
    seg_map = {r["segment"]: bytes(r["bits"]) for r in segs.collect()}
    probe = bloom.make_probe_udf(seg_map, 1 << 16, 4)
    u = F.col("url")
    flagged = new.withColumn(
        "_maybe", probe(bloom._segment_col(u),
                        *bloom._position_cols(u, 1 << 16, 4)))
    fp = flagged.where(F.col("_maybe")).count()
    assert fp / 2000 < 0.05  # low false-positive rate at this load factor


def test_merge_segment_sets(spark):
    a = bloom.build_segments(_urls(spark, "a", 200), m=1 << 14)
    b = bloom.build_segments(_urls(spark, "b", 200), m=1 << 14)
    merged = bloom.merge_segment_sets(a, b)
    both = _urls(spark, "a", 200).union(_urls(spark, "b", 200))
    frontier = _urls(spark, "a", 400).union(_urls(spark, "b", 400))
    got = sorted(r["url"] for r in bloom.bloom_anti_join(
        frontier, both, merged, m=1 << 14).collect())
    want = sorted(r["url"] for r in
                  frontier.join(both, "url", "left_anti").collect())
    assert got == want


def test_cogroup_probe_equals_broadcast(spark):
    seen = _urls(spark, "a", 500)
    frontier = _urls(spark, "a", 800).union(_urls(spark, "c", 300))
    segs = bloom.build_segments(seen, m=1 << 14)
    a = sorted(r["url"] for r in bloom.bloom_anti_join(
        frontier, seen, segs, m=1 << 14).collect())
    b = sorted(r["url"] for r in bloom.bloom_anti_join_cogroup(
        frontier, seen, segs, m=1 << 14).collect())
    want = sorted(r["url"] for r in
                  frontier.join(seen, "url", "left_anti").collect())
    assert a == b == want


def test_cogroup_probe_unmerged_deltas(spark):
    """A caller passing UNMERGED per-wave segment deltas (multiple rows per
    segment) must still get exact results: the probe ORs across all rows,
    so a key present in ANY delta stays maybe-seen (ADVICE r2 — reading
    only row 0 silently declared seen URLs definitely-new)."""
    seen_a, seen_b = _urls(spark, "a", 300), _urls(spark, "b", 300)
    both = seen_a.union(seen_b)
    unmerged = bloom.build_segments(seen_a, m=1 << 14).unionByName(
        bloom.build_segments(seen_b, m=1 << 14))
    frontier = _urls(spark, "a", 400).union(_urls(spark, "b", 400))
    got = sorted(r["url"] for r in bloom.bloom_anti_join_cogroup(
        frontier, both, unmerged, m=1 << 14).collect())
    want = sorted(r["url"] for r in
                  frontier.join(both, "url", "left_anti").collect())
    assert got == want and len(got) == 200


def test_fill_fraction(spark):
    import numpy as np

    from grawler.bloom import build_segments, fill_fraction

    urls = spark.createDataFrame(
        [(f"http://h.example/{i}",) for i in range(200)], "url string")
    segs = build_segments(urls, n_segments=2, m=256, k=4)
    f = fill_fraction(segs, 256)
    assert 0.0 < f <= 1.0
    # 100 keys x 4 bits into 256 slots: fill must be substantial
    assert f > 0.5
    empty = build_segments(
        spark.createDataFrame([], "url string"), n_segments=2, m=256, k=4)
    assert fill_fraction(empty, 256) == 0.0


def test_broadcast_probe_or_unions_multirow_segments(spark):
    """ADVICE r3: unmerged per-wave segment DELTAS (multiple rows per
    segment id) are a legal probe input; the broadcast path must OR-union
    them like the cogroup path — last-row-wins would return false
    'definitely new' for urls recorded only in the dropped delta."""
    a = _urls(spark, "a", 200)
    b = _urls(spark, "b", 200)
    seen = a.union(b)
    deltas = bloom.build_segments(a, m=1 << 14).unionByName(
        bloom.build_segments(b, m=1 << 14))  # 2 rows per segment, unmerged
    frontier = _urls(spark, "a", 300).union(_urls(spark, "b", 300))
    got = sorted(r["url"] for r in bloom.bloom_anti_join(
        frontier, seen, deltas, m=1 << 14).collect())
    want = sorted(r["url"] for r in
                  frontier.join(seen, "url", "left_anti").collect())
    assert got == want
    assert len(got) == 200


def test_merge_infers_eval_type_without_warning(spark):
    """The grouped-map merge is fully type-hinted, so PySpark infers its
    eval type instead of warning once per merge (that is, per wave)."""
    import warnings

    a = bloom.build_segments(_urls(spark, "a", 50), m=1 << 10)
    b = bloom.build_segments(_urls(spark, "b", 50), m=1 << 10)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        merged = bloom.merge_segment_sets(a, b)
    assert not [w for w in caught
                if "Cannot infer the eval type" in str(w.message)]
    assert merged.count() > 0


def test_segment_bits_match_xxhash_replica(spark):
    """Pins the committed segment format that resume decodes: segment =
    pmod(xxhash64(url), S), bit i of the url = pmod(xxhash64(url, i), m),
    packed MSB-first (np.packbits), n_keys = urls in the segment. The
    expected bytes come from the pure-Python xxhash64 replica, not Spark."""
    from collections import Counter

    import numpy as np

    from grawler.xxh import spark_xxhash64

    urls = [f"http://h{i % 9}.example/p/{i}?q={i * 7}" for i in range(200)]
    n_seg, m, k = 4, 1 << 10, 4
    got = {
        r["segment"]: (bytes(r["bits"]), r["n_keys"])
        for r in bloom.build_segments(
            spark.createDataFrame([(u,) for u in urls], "url string"),
            n_segments=n_seg, m=m, k=k).collect()
    }
    bits: dict[int, bytearray] = {}
    n_keys: Counter = Counter()
    for u in urls:
        seg = spark_xxhash64(u) % n_seg  # python % is pmod (positive modulus)
        buf = bits.setdefault(seg, bytearray(m // 8))
        for i in range(k):
            p = spark_xxhash64(u, np.int32(i)) % m
            buf[p // 8] |= 0x80 >> (p % 8)
        n_keys[seg] += 1
    assert got == {s: (bytes(b), n_keys[s]) for s, b in bits.items()}
