"""Scheduler operators: salted per-host top-k == exact top-k; two-phase
global sequence == single-partition sort order."""

import pyspark.sql.functions as F

from grawler.scheduler import global_sequence, per_host_topk, schedule_wave


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows, "url string, parent_url string, host string, depth int, "
              "priority int, wave int")


def _mk_rows(n_hosts=5, per_host=20):
    rows = []
    for h in range(n_hosts):
        for i in range(per_host):
            rows.append(
                (f"http://h{h}.x/p/{i:03d}", "", f"h{h}.x", i % 4, 0, 0))
    return rows


def _release(registry):
    for df in registry:
        df.unpersist()


def test_per_host_topk_salted_equals_unsalted(spark):
    df = _frontier(spark, _mk_rows())
    k = 3
    reg = []
    kept_s, def_s = per_host_topk(df, k, salt_buckets=8, registry=reg)
    kept_p, def_p = per_host_topk(df, k, salt_buckets=1, registry=reg)
    a = sorted(tuple(r) for r in kept_s.select("url", "hrank").collect())
    b = sorted(tuple(r) for r in kept_p.select("url", "hrank").collect())
    assert a == b and len(a) == 5 * k
    assert def_s.count() == def_p.count() == 5 * 20 - 5 * k
    _release(reg)


def test_global_sequence_matches_sorted_order(spark):
    df = _frontier(spark, _mk_rows(7, 13))
    reg = []
    out = global_sequence(df, ("depth", "priority", "host", "url"), "seq",
                          registry=reg)
    got = [r["url"] for r in out.orderBy("seq").collect()]
    want = [r["url"] for r in
            df.orderBy("depth", "priority", "host", "url").collect()]
    assert got == want
    seqs = sorted(r["seq"] for r in out.collect())
    assert seqs == list(range(len(want)))  # dense, 0-based, no gaps
    _release(reg)


def test_schedule_wave_defers_overflow(spark):
    df = _frontier(spark, _mk_rows(3, 10))
    reg = []
    scheduled, deferred = schedule_wave(df, host_tokens=4, wave_cap=10,
                                        registry=reg)
    s = scheduled.collect()
    assert len(s) == 10  # capped
    d = deferred.count()
    assert d == 30 - 10  # everything else deferred, nothing dropped
    per_host = {}
    for r in s:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert all(v <= 4 for v in per_host.values())
    _release(reg)
