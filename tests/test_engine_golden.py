"""End-to-end golden tests: Spark engine state == pure-Python oracle
(SURVEY.md §5.2 items 2, 3, 5).

These are the authoritative checks for the crawl_* rows-only entries in
__spark_entry__.py: trace equality (crawl ordering), URL-seen set equality,
stored-row equality (caption exact, phash exact, decoded pixels vs ground
truth with PSNR >= 40 dB for lossy), and kill/resume with no duplicate
fetches (BASELINE.json north_rule).
"""

import numpy as np
import pytest

from grawler import codecs, oracle, synthgen
from grawler.conf import CrawlConfig
from grawler.engine import build_engine
from grawler.store import LocalSnapshotStore

CFG = CrawlConfig()


def _run_both(spark, web, tmp, max_waves):
    eng, seeds = build_engine(spark, web, str(tmp), CFG)
    res = eng.run(seeds, max_waves=max_waves)
    o = oracle.crawl(web, CFG, max_waves=max_waves)
    return res, o


def _assert_equal(res, o, web=None):
    etr = [(r["wave"], r["seq"], r["url"], r["host"], r["depth"])
           for r in res.trace().orderBy("wave", "seq").collect()]
    assert etr == o.trace, f"trace diff at {next((i for i,(a,b) in enumerate(zip(etr,o.trace)) if a!=b), 'len')}"
    seen = {r["url"]: r["first_wave"] for r in res.seen().collect()}
    assert seen == o.seen
    store = {r["image_id"]: r for r in res.store().collect()}
    assert set(store) == set(o.store)
    for iid, want in o.store.items():
        got = store[iid]
        assert got["caption"] == want["caption"]          # exact equality
        assert got["phash"] == want["phash"]
        assert (got["w"], got["h"], got["fmt"]) == (
            want["w"], want["h"], want["fmt"])
        if web is not None:
            px = codecs.decode(bytes(got["bytes"]), got["fmt"])
            truth = web.pixels[iid]
            if got["fmt"] in ("rgb8", "png"):
                assert np.array_equal(px, truth)
            else:
                assert codecs.psnr(truth, px) >= 40.0     # input_hint gate
    ef = sorted(r["url"] for r in res.frontier().collect())
    of = sorted(r["url"] for r in o.frontier)
    assert ef == of
    # frontier ∩ seen = ∅: the invariant that lets the engine skip the
    # oracle's step 1 (frontier minus seen)
    assert not (set(ef) & set(seen))
    # A3 accounting: per-host fetch counts equal the oracle trace
    from collections import Counter

    hb = {r["host"]: r["fetches"] for r in res.host_budget().collect()}
    want = Counter(h for (_, _, _, h, _) in o.trace)
    assert hb == dict(want)
    # F8/K1 document-shape parity: extracted metadata + visible text per
    # seen page (InsertDocument.Content, reference src/common/common.go:50)
    pm = {
        r["url"]: (r["title"], r["description"], r["site_name"], r["icon"],
                   r["content"])
        for r in res.pages_meta().collect()
    }
    assert set(pm) == set(o.pages_meta)
    for u, m in o.pages_meta.items():
        assert pm[u] == (m["title"], m["description"], m["site_name"],
                         m["icon"], m["content"]), u
    # observability: wave-summary metrics equal the oracle's accounting
    assert res.waves == o.waves
    em = {
        r["wave"]: (r["scheduled"], r["fetched"], r["parsed"], r["deduped"],
                    r["stored"], r["errors"])
        for r in res.metrics().where("partition_id = -1").collect()
    }
    om = {
        m["wave"]: (m["scheduled"], m["fetched"], m["parsed"], m["deduped"],
                    m["stored"], m["errors"])
        for m in o.metrics
    }
    assert em == om


def test_golden_mixed(spark, tiny_web, tmp_path):
    res, o = _run_both(spark, tiny_web, tmp_path, max_waves=4)
    _assert_equal(res, o, tiny_web)


def test_golden_hot_host_skew(spark, tmp_path):
    web = synthgen.generate(seed=9, n_pages=100, shape="hot-host")
    res, o = _run_both(spark, web, tmp_path, max_waves=3)
    _assert_equal(res, o, web)
    # politeness invariant: no host exceeds its token budget in any wave
    from collections import Counter

    per = Counter((w, h) for (w, _, _, h, _) in o.trace)
    assert all(v <= CFG.host_tokens_per_wave for v in per.values())


def test_resume_no_duplicate_fetches(spark, tmp_path):
    web = synthgen.generate(seed=5, n_pages=80, shape="diamond")
    full_dir, part_dir = tmp_path / "full", tmp_path / "part"
    e1, s1 = build_engine(spark, web, str(full_dir), CFG)
    full = e1.run(s1, max_waves=4)
    e2, s2 = build_engine(spark, web, str(part_dir), CFG)
    e2.run(s2, max_waves=2)  # simulated kill after wave 1
    e3, s3 = build_engine(spark, web, str(part_dir), CFG)
    resumed = e3.run(s3, max_waves=4, resume=True)
    a = sorted((r["wave"], r["seq"], r["url"]) for r in full.trace().collect())
    b = sorted((r["wave"], r["seq"], r["url"])
               for r in resumed.trace().collect())
    assert a == b
    seen_urls = [r["url"] for r in resumed.seen().collect()]
    assert len(seen_urls) == len(set(seen_urls))  # zero duplicate fetches


def test_seed_list_json_loader(spark, tmp_path):
    """S2: reference-format {"seed_list": [...]} file (jsonData.go:15-40)."""
    import json

    from grawler.synthgen import load_seed_list

    p = tmp_path / "seed_list.json"
    urls = ["http://a.example/", "https://b.example/p/1"]
    p.write_text(json.dumps({"seed_list": urls}, indent=1))
    got = sorted(r["url"] for r in load_seed_list(spark, str(p)).collect())
    assert got == sorted(urls)


def test_cogroup_bloom_engine_equivalent(spark, tmp_path):
    """Forcing the cogroup probe path (broadcast threshold 0) must give
    identical results to the broadcast path."""
    import dataclasses

    web = synthgen.generate(seed=13, n_pages=60, shape="mixed")
    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    cfg_cg = dataclasses.replace(CFG, bloom_m=1 << 14,
                                 bloom_broadcast_max_bytes=0)
    cfg_bc = dataclasses.replace(CFG, bloom_m=1 << 14)
    e1, s1 = build_engine(spark, web, str(a_dir), cfg_cg)
    r1 = e1.run(s1, max_waves=3)
    e2, s2 = build_engine(spark, web, str(b_dir), cfg_bc)
    r2 = e2.run(s2, max_waves=3)
    a = sorted(map(tuple, r1.trace().collect()))
    b = sorted(map(tuple, r2.trace().collect()))
    assert a == b
    sa = sorted(r["url"] for r in r1.seen().collect())
    sb = sorted(r["url"] for r in r2.seen().collect())
    assert sa == sb


@pytest.mark.parametrize("shape,seed,waves", [
    ("robots-walled", 7, 3),
    ("deep-chain", 21, 5),
])
def test_golden_other_shapes(spark, tmp_path, shape, seed, waves):
    web = synthgen.generate(seed=seed, n_pages=60, shape=shape)
    res, o = _run_both(spark, web, tmp_path, max_waves=waves)
    _assert_equal(res, o, web)


def test_all_blocked_wave_not_counted(spark, tmp_path):
    """Every candidate robots-denied in wave 0: the oracle pops the frontier
    rows and stops without counting the wave or writing metrics — the engine
    must agree (waves == 0, no trace/metrics rows, empty frontier)."""
    web = synthgen.generate(seed=2, n_pages=40, shape="mixed")
    web.robots["robots_txt"] = "User-agent: *\nDisallow: /\n"
    res, o = _run_both(spark, web, tmp_path, max_waves=3)
    assert o.waves == 0 and res.waves == 0
    assert o.trace == [] and not o.metrics
    assert res.trace() is None       # never committed: no scheduled rows
    assert res.metrics() is None
    f = res.frontier()
    assert f is None or f.count() == 0
    assert not o.frontier
    # resume after an all-blocked-only commit: the seen/trace/metrics
    # tables were never written — resume must tolerate their absence
    e2, s2 = build_engine(spark, web, str(tmp_path), CFG)
    resumed = e2.run(s2, max_waves=3, resume=True)  # must not crash on the
    assert resumed.trace() is None                  # absent seen/trace tables


class _LegacyFilterStore(LocalSnapshotStore):
    """Leaves the seen-filter state of an older engine: every commit
    records `meta` as the filter and writes `segments` (or no segments at
    all) as the `bloom` table, whatever the engine handed in. The writing
    engine never reads that table back, so it crawls correctly on its
    exact check alone."""

    def __init__(self, spark, path, meta, segments):
        super().__init__(spark, path)
        self._meta, self._segments = meta, segments

    def commit_wave(self, wave, tables, meta=None):
        tables = {n: df for n, df in tables.items() if n != "bloom"}
        if self._segments is not None:
            tables["bloom"] = self._segments
        return super().commit_wave(
            wave, tables, meta={"seen_filter": self._meta})

    def read(self, table, upto_wave=None):
        return None if table == "bloom" else super().read(table, upto_wave)


@pytest.mark.parametrize("family", ["none", "cuckoo"])
def test_resume_legacy_filter_warehouse_rebuilds(spark, tmp_path, family):
    """A warehouse whose recorded filter is not a bloom record must get
    its segments rebuilt from the exact seen set on resume:
      'none'   — the filter was off, so there is no `bloom` table; a filter
                 built from post-resume deltas alone would miss the
                 pre-resume seen URLs;
      'cuckoo' — a `bloom` table of another family's bytes; all-zero slot
                 tables stand in for them, so decoding them as bloom bits
                 would pass every seen child as definitely new.
    Either mistake re-enqueues seen URLs; the resumed crawl's state must
    equal the uninterrupted (oracle) crawl's, with no URL fetched twice."""
    web = synthgen.generate(seed=5, n_pages=80, shape="diamond")
    if family == "none":
        meta, segments = {"family": "none"}, None
    else:
        # 2^11 buckets x 4 slots x 2 B: the byte size of a default bloom
        # segment, so a trusting engine would decode them without error
        meta = {"family": "cuckoo", "segments": 64, "buckets": 1 << 11,
                "slots": 4}
        segments = spark.createDataFrame(
            [(s, bytes((1 << 11) * 4 * 2), 0) for s in range(64)],
            "segment int, bits binary, n_keys long")
    wh = str(tmp_path / "wh")
    e1, s1 = build_engine(spark, web, wh, CFG)
    e1.state = _LegacyFilterStore(spark, wh, meta, segments)
    e1.run(s1, max_waves=2)
    e2, s2 = build_engine(spark, web, wh, CFG)
    resumed = e2.run(s2, max_waves=4, resume=True)
    _assert_equal(resumed, oracle.crawl(web, CFG, max_waves=4))
    seen_urls = [r["url"] for r in resumed.seen().collect()]
    assert len(seen_urls) == len(set(seen_urls))  # no duplicate fetches


def test_filter_saturation_grows_and_resume_adopts(spark, tmp_path):
    """A deliberately-tiny bloom (m=32) saturates immediately; at the
    compaction wave the engine must rebuild with doubled m from the exact
    seen set, commit the grown parameters, KEEP producing oracle-equal
    results, and a resume must adopt the grown parameters instead of
    rebuilding back to the cfg defaults."""
    import dataclasses

    cfg = dataclasses.replace(CrawlConfig(), bloom_m=32, bloom_segments=2)
    web = synthgen.generate(seed=42, n_pages=60, shape="mixed")
    wh = str(tmp_path / "wh")
    eng, seeds = build_engine(spark, web, wh, cfg)
    eng.state = LocalSnapshotStore(spark, wh, compact_every=2)
    res = eng.run(seeds, max_waves=3)  # wave 2 = compaction = load check
    assert res.waves == 3
    meta = eng.state.read_meta()["seen_filter"]
    assert meta["family"] == "bloom" and meta["m"] >= 64  # grew
    # exactness preserved through saturation + rebuild
    o = oracle.crawl(web, cfg, max_waves=3)
    got = [(r["wave"], r["seq"], r["url"], r["host"], r["depth"])
           for r in res.trace().orderBy("wave", "seq").collect()]
    assert got == o.trace
    assert {r["url"]: r["first_wave"]
            for r in res.seen().collect()} == o.seen
    # resume adopts the GROWN parameters (not the cfg defaults the bytes
    # were no longer built under)
    eng2, _ = build_engine(spark, web, wh, cfg)
    eng2.state = LocalSnapshotStore(spark, wh, compact_every=2)
    eng2.run(seeds, max_waves=3, resume=True)
    assert eng2._filter_params["m"] == meta["m"]


def test_empty_deltas_skipped_and_resume_tolerates(spark, tmp_path):
    """A table whose wave delta is known empty is omitted from the commit
    (O(delta) extends to zero-size deltas): with every host's robots.txt
    pre-seeded and fresh, no wave past 0 has a robots delta, so no wave>0
    manifest should carry a robots_cache entry — while compaction waves
    still write every table so the delta log compacts on schedule. State
    and resume must be byte-identical to the oracle regardless."""
    web = synthgen.generate(seed=11, n_pages=80, shape="mixed")
    wh = str(tmp_path / "wh")
    eng, seeds = build_engine(spark, web, wh, CFG)  # robots pre-seeded
    eng.state = LocalSnapshotStore(spark, wh, compact_every=3)
    res = eng.run(seeds, max_waves=4)
    assert res.waves >= 3
    ms = {m["wave"]: m for m in eng.state.manifests()}
    assert "robots_cache" in ms[0]["tables"]  # wave 0 establishes schema
    steady = [w for w in ms if w > 0 and w % 3 != 0]
    assert steady and all(
        "robots_cache" not in ms[w]["tables"] for w in steady)
    compactions = [w for w in ms if w > 0 and w % 3 == 0]
    assert all("robots_cache" in ms[w]["tables"] for w in compactions)
    # correctness unchanged by the skipped writes
    o = oracle.crawl(web, CFG, max_waves=4)
    _assert_equal(res, o, web)
    # resume across manifests WITH holes: rerun from a partial crawl and
    # match an uninterrupted one
    part = str(tmp_path / "part")
    e2, s2 = build_engine(spark, web, part, CFG)
    e2.state = LocalSnapshotStore(spark, part, compact_every=3)
    e2.run(s2, max_waves=2)
    e3, s3 = build_engine(spark, web, part, CFG)
    e3.state = LocalSnapshotStore(spark, part, compact_every=3)
    resumed = e3.run(s3, max_waves=4, resume=True)
    a = sorted((r["wave"], r["seq"], r["url"])
               for r in res.trace().collect())
    b = sorted((r["wave"], r["seq"], r["url"])
               for r in resumed.trace().collect())
    assert a == b
