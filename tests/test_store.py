"""Storage layer: lineage commit protocol, crash-before-manifest resume,
Iceberg MERGE SQL generation."""

import os

import pytest

from grawler import oracle, synthgen
from grawler.conf import CrawlConfig
from grawler.engine import build_engine
from grawler.store import IcebergSnapshotStore, LocalSnapshotStore

CFG = CrawlConfig()


def test_crash_before_manifest_rerun_is_idempotent(spark, tmp_path):
    """Kill AFTER wave-2 data files are written but BEFORE its manifest:
    resume must re-run wave 2 and converge to the uninterrupted state
    (north_rule: no duplicate fetches survive into state)."""
    web = synthgen.generate(seed=11, n_pages=80, shape="mixed")
    full_dir, crash_dir = str(tmp_path / "full"), str(tmp_path / "crash")
    e1, s1 = build_engine(spark, web, full_dir, CFG)
    full = e1.run(s1, max_waves=3)

    e2, s2 = build_engine(spark, web, crash_dir, CFG)
    e2.run(s2, max_waves=3)
    # simulate the crash: drop the LAST manifest, keep its orphan data
    manifests = sorted(os.listdir(os.path.join(crash_dir, "_lineage")))
    os.remove(os.path.join(crash_dir, "_lineage", manifests[-1]))

    e3, s3 = build_engine(spark, web, crash_dir, CFG)
    resumed = e3.run(s3, max_waves=3, resume=True)

    a = sorted((r["wave"], r["seq"], r["url"])
               for r in full.trace().collect())
    b = sorted((r["wave"], r["seq"], r["url"])
               for r in resumed.trace().collect())
    assert a == b
    sa = sorted(r["url"] for r in full.seen().collect())
    sb = sorted(r["url"] for r in resumed.seen().collect())
    assert sa == sb and len(sb) == len(set(sb))
    st_a = sorted(r["image_id"] for r in full.store().collect())
    st_b = sorted(r["image_id"] for r in resumed.store().collect())
    assert st_a == st_b


def test_manifest_is_commit_point(spark, tmp_path):
    s = LocalSnapshotStore(spark, str(tmp_path))
    assert s.last_wave() is None
    df = spark.range(3).selectExpr("id as url")
    s.commit_wave(0, {"seen": df})
    assert s.last_wave() == 0
    assert s.read("seen").count() == 3
    # per-partition lineage: manifest names each partition file written
    # (seen is a BUCKETED table, so files live under _b=<bucket>/ dirs)
    import os as _os

    entry = s.manifests()[0]["tables"]["seen"]
    assert entry["files"] and all(
        _os.path.basename(f).startswith("part-") for f in entry["files"])
    assert entry["nb"] == s.initial_buckets
    assert all(f.startswith("_b=") for f in entry["files"])
    s.commit_wave(1, {"seen": df})
    assert s.read("seen").count() == 6          # append mode unions deltas
    assert s.read("seen", upto_wave=0).count() == 3
    # re-committing a wave replaces its manifest, on disk and in the log
    s.commit_wave(1, {"seen": spark.range(3, 5).selectExpr("id as url")})
    assert [m["wave"] for m in s.manifests()] == [0, 1]
    assert s.read("seen").count() == 5
    assert LocalSnapshotStore(spark, str(tmp_path)).manifests() \
        == s.manifests()


def test_iceberg_merge_sql():
    class FakeSpark:  # SQL generation is pure string work
        pass

    st = IcebergSnapshotStore(FakeSpark(), catalog="crawl",
                              namespace="grawler")
    sql = st.merge_sql("frontier", ["url", "host", "depth"])
    assert sql.startswith("MERGE INTO crawl.grawler.frontier t USING (")
    # source pre-resolution: one row per key, add-beats-remove — a raw
    # _delta source with same-wave remove+add would make MERGE INTO raise
    # a cardinality violation and wedge the resumable crawl
    assert ("WHERE d._op = 'add' OR NOT EXISTS (SELECT 1 FROM _delta a "
            "WHERE a.url = d.url AND a._op = 'add')" in sql)
    assert " ON t.url = s.url " in sql
    assert "WHEN MATCHED AND s._op = 'remove' THEN DELETE" in sql
    assert "WHEN MATCHED THEN UPDATE SET t.url = s.url, t.host = s.host" in sql
    assert ("WHEN NOT MATCHED AND s._op = 'add' THEN "
            "INSERT (url, host, depth) VALUES (s.url, s.host, s.depth)"
            in sql)
    assert "INSERT OVERWRITE" not in sql
    assert "ON t.host = s.host" in st.merge_sql("robots_cache", ["host"])


def test_iceberg_merge_source_resolves_same_wave_add_remove(spark):
    """Execute the MERGE source subquery on real Spark SQL: the engine's
    'denied-then-rediscovered' delta (remove+add of one key in one wave)
    must resolve to ONE row per key with the add winning."""
    class FakeSpark:
        pass

    st = IcebergSnapshotStore(FakeSpark(), catalog="crawl",
                              namespace="grawler")
    _delta(spark, ["b", "e"], ["b", "d"]).createOrReplaceTempView("_delta")
    src = st.merge_source_sql("frontier").rstrip()
    rows = spark.sql(f"SELECT url, _op FROM {src} s").collect()
    got = {(r["url"], r["_op"]) for r in rows}
    assert got == {("b", "add"), ("e", "add"), ("d", "remove")}
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))  # single row per key
    spark.catalog.dropTempView("_delta")


def test_store_meta_roundtrip(spark, tmp_path):
    """Filter family/params ride the manifest; latest committed meta wins."""
    s = LocalSnapshotStore(spark, str(tmp_path))
    df = spark.range(3).selectExpr("id as url")
    assert s.read_meta() == {}
    s.commit_wave(0, {"seen": df},
                  meta={"seen_filter": {"family": "bloom", "m": 8}})
    s.commit_wave(1, {"seen": df},
                  meta={"seen_filter": {"family": "bloom", "m": 8}})
    assert s.read_meta() == {"seen_filter": {"family": "bloom", "m": 8}}


def _delta(spark, adds, removes, extra=0):
    """Build a frontier-style merge delta: adds are full rows, removes are
    url-only with nulls."""
    import pyspark.sql.functions as F

    rows = [(u, "p", "h", 1, 0, extra, "/x", "add") for u in adds] + [
        (u, None, None, None, None, None, None, "remove") for u in removes]
    return spark.createDataFrame(
        rows, "url string, parent_url string, host string, depth int, "
              "priority int, wave int, path string, _op string")


def test_merge_table_delta_semantics(spark, tmp_path):
    """add/remove resolution: latest wave wins, same-wave add beats remove,
    removed keys can be re-added later."""
    s = LocalSnapshotStore(spark, str(tmp_path), compact_every=100)
    s.commit_wave(0, {"frontier": _delta(spark, ["a", "b", "c"], [])})
    s.commit_wave(1, {"frontier": _delta(spark, ["d"], ["b"])})
    assert sorted(r["url"] for r in s.read("frontier").collect()) == [
        "a", "c", "d"]
    # same-wave remove+add of one key: add wins (denied-then-rediscovered)
    s.commit_wave(2, {"frontier": _delta(spark, ["b"], ["b", "d"])})
    assert sorted(r["url"] for r in s.read("frontier").collect()) == [
        "a", "b", "c"]
    # upto_wave replays history
    assert sorted(r["url"] for r in s.read("frontier", upto_wave=0)
                  .collect()) == ["a", "b", "c"]
    assert sorted(r["url"] for r in s.read("frontier", upto_wave=1)
                  .collect()) == ["a", "c", "d"]


def test_merge_table_compaction_preserves_state(spark, tmp_path):
    """Compaction rewrites a resolved snapshot and later reads start there;
    results identical with and without compaction, including upto_wave
    across the compaction boundary."""
    a = LocalSnapshotStore(spark, str(tmp_path / "a"), compact_every=2)
    b = LocalSnapshotStore(spark, str(tmp_path / "b"), compact_every=100)
    history = [
        (["a", "b", "c"], []),
        (["d"], ["a"]),
        (["e"], ["b"]),      # wave 2: compaction in store a
        (["a"], ["e"]),      # re-add a removed key after compaction
        ([], ["c"]),         # wave 4: compaction in store a
    ]
    for w, (adds, removes) in enumerate(history):
        for st in (a, b):
            st.commit_wave(w, {"frontier": _delta(spark, adds, removes, w)})
    ma = sorted((r["url"], r["wave"]) for r in a.read("frontier").collect())
    mb = sorted((r["url"], r["wave"]) for r in b.read("frontier").collect())
    assert ma == mb == [("a", 3), ("d", 1)]
    for w in range(5):
        ua = sorted(r["url"] for r in a.read("frontier", upto_wave=w)
                    .collect())
        ub = sorted(r["url"] for r in b.read("frontier", upto_wave=w)
                    .collect())
        assert ua == ub, w
    # compaction manifests recorded
    modes = [m["tables"]["frontier"]["mode"] for m in a.manifests()]
    assert modes == ["merge", "merge", "compact", "merge", "compact"]


def test_engine_resume_across_compaction_boundary(spark, tmp_path):
    """Golden + kill/resume with compact_every=2 so waves cross compaction:
    results must equal the uninterrupted run and the oracle-backed full
    crawl (same check as test_resume_no_duplicate_fetches, tighter store)."""
    from grawler import synthgen
    from grawler.engine import CrawlEngine
    from grawler.synthgen import spark_tables

    web = synthgen.generate(seed=5, n_pages=80, shape="diamond")

    def engine(path):
        seeds, pages, robots, images = spark_tables(spark, web)
        eng = CrawlEngine(
            spark, pages, robots, images, path, CFG,
            robots_cache_init=robots,
            state_store=LocalSnapshotStore(spark, path, compact_every=2))
        return eng, seeds

    full_dir, part_dir = str(tmp_path / "full"), str(tmp_path / "part")
    e1, s1 = engine(full_dir)
    full = e1.run(s1, max_waves=4)
    e2, s2 = engine(part_dir)
    e2.run(s2, max_waves=3)  # kill after wave 2 (compaction happened)
    e3, s3 = engine(part_dir)
    resumed = e3.run(s3, max_waves=4, resume=True)
    aa = sorted((r["wave"], r["seq"], r["url"])
                for r in full.trace().collect())
    bb = sorted((r["wave"], r["seq"], r["url"])
                for r in resumed.trace().collect())
    assert aa == bb
    fa = sorted(r["url"] for r in full.frontier().collect())
    fb = sorted(r["url"] for r in resumed.frontier().collect())
    assert fa == fb


def test_bucketed_table_compaction_and_adaptive_nb(spark, tmp_path):
    """seen/store_keys: deltas are bucketed dirs; compaction folds them
    into one snapshot, dedups keys, and grows nb (power of two) so bucket
    size stays <= bucket_target_rows; reads start at the compaction."""
    st = LocalSnapshotStore(spark, str(tmp_path), compact_every=2,
                            initial_buckets=2, bucket_target_rows=8)
    def urls(lo, hi):
        return spark.createDataFrame(
            [(f"u{i}",) for i in range(lo, hi)], "url string")

    st.commit_wave(0, {"seen": urls(0, 10)})
    st.commit_wave(1, {"seen": urls(10, 30)})
    st.commit_wave(2, {"seen": urls(20, 40)})   # overlap -> compact dedups
    ms = st.manifests()
    assert ms[2]["tables"]["seen"]["mode"] == "compact"
    # 40 distinct keys / target 8 -> nb grew to 8 (next pow2 of 5)
    assert ms[2]["tables"]["seen"]["nb"] == 8
    assert st.read("seen").count() == 40
    assert "_b" not in st.read("seen").columns     # public read strips _b
    df, nb = st.read_bucketed("seen")
    assert nb == 8 and "_b" in df.columns
    # post-compaction delta written under the grown nb
    st.commit_wave(3, {"seen": urls(40, 45)})
    assert st.manifests()[3]["tables"]["seen"]["nb"] == 8
    assert st.read("seen").count() == 45
    # a fresh store instance (resume) recovers nb from the manifests
    st2 = LocalSnapshotStore(spark, str(tmp_path), compact_every=2,
                             initial_buckets=2, bucket_target_rows=8)
    assert st2._current_nb("seen") == 8
    assert st2.read_bucketed("seen")[1] == 8


def test_compaction_folds_tables_the_wave_omits(spark, tmp_path):
    """A compaction wave compacts every merge and bucketed table that has
    committed rows, also one it passed no delta for: robots_cache and
    store_keys become `compact` entries (store_keys regrown to the target
    bucket size), every read returns what it did before, and a store
    reopened on the path sees the same log."""
    st = LocalSnapshotStore(spark, str(tmp_path), compact_every=2,
                            initial_buckets=2, bucket_target_rows=1)

    def robots(hosts, op="add"):
        return spark.createDataFrame(
            [(h, f"txt-{h}", op) for h in hosts],
            "host string, robots_txt string, _op string")

    def keys(ids):
        return spark.createDataFrame([(i,) for i in ids], "image_id string")

    def reads():
        return {(t, w): sorted(tuple(r) for r in st.read(t, w).collect())
                for t in ("robots_cache", "store_keys") for w in (0, 1, None)}

    st.commit_wave(0, {"robots_cache": robots(["a", "b"]),
                       "store_keys": keys(["i1", "i2"])})
    st.commit_wave(1, {"robots_cache": robots(["b"], "remove"),
                       "store_keys": keys(["i3"])})
    before = reads()
    st.commit_wave(2, {"trace": spark.createDataFrame(
        [(2, "u")], "wave int, url string")})
    tables = st.manifests()[2]["tables"]
    assert tables["robots_cache"]["mode"] == "compact"
    assert tables["store_keys"]["mode"] == "compact"
    assert tables["store_keys"]["nb"] == 4  # 3 keys, 1 per bucket, pow2
    assert reads() == before
    assert st.read_bucketed("store_keys")[1] == 4
    again = LocalSnapshotStore(spark, str(tmp_path), compact_every=2,
                               initial_buckets=2, bucket_target_rows=1)
    assert again.manifests() == st.manifests()


def test_bucketed_compaction_dedup_is_deterministic(spark, tmp_path):
    """ADVICE r3: if a duplicate key ever lands in deltas, compaction must
    keep a DETERMINISTIC row — the minimal (first_wave, rest) one — not
    dropDuplicates' arbitrary survivor: seen.first_wave drives read()'s
    committed-wave filter, so a nondeterministic survivor would make
    resume reads diverge between runs."""
    import pyspark.sql.functions as F

    for attempt in range(2):  # same inputs twice -> same survivor
        root = str(tmp_path / f"r{attempt}")
        st = LocalSnapshotStore(spark, root, compact_every=2,
                                initial_buckets=2, bucket_target_rows=8)
        st.commit_wave(0, {"seen": spark.createDataFrame(
            [("u1", 7, 0), ("u2", 7, 0)],
            "url string, url_hash long, first_wave int")})
        # duplicate u1 with a LATER first_wave lands in the next delta
        st.commit_wave(1, {"seen": spark.createDataFrame(
            [("u1", 7, 1), ("u3", 7, 1)],
            "url string, url_hash long, first_wave int")})
        st.commit_wave(2, {"seen": spark.createDataFrame(
            [("u4", 7, 2)],
            "url string, url_hash long, first_wave int")})  # compacts
        rows = {r["url"]: r["first_wave"]
                for r in st.read("seen").collect()}
        assert rows == {"u1": 0, "u2": 0, "u3": 1, "u4": 2}
        # the wave-filtered read agrees: u1 visible at wave 0 already
        upto0 = {r["url"] for r in st.read("seen", upto_wave=0).collect()}
        assert upto0 == {"u1", "u2"}


def test_bucketed_empty_delta_skipped_on_read(spark, tmp_path):
    st = LocalSnapshotStore(spark, str(tmp_path), initial_buckets=4)
    st.commit_wave(0, {"store_keys": spark.createDataFrame(
        [("i1",), ("i2",)], "image_id string")})
    st.commit_wave(1, {"store_keys": spark.createDataFrame(
        [], "image_id string")})   # a wave with no new images
    assert st.manifests()[1]["tables"]["store_keys"]["files"] == []
    assert st.read("store_keys").count() == 2
    df, nb = st.read_bucketed("store_keys")
    assert nb == 4 and df.count() == 2


def test_iceberg_create_sql_bucket_transform():
    class FakeSpark:
        pass

    st = IcebergSnapshotStore(FakeSpark(), catalog="crawl",
                              namespace="grawler")
    ddl = st.create_sql("seen", "url string, url_hash bigint, "
                        "first_wave int", nb=4096)
    assert ddl.endswith("USING iceberg PARTITIONED BY (bucket(4096, url))")
    kd = st.create_sql("store_keys", "image_id string", nb=256)
    assert "PARTITIONED BY (bucket(256, image_id))" in kd
    # non-probe tables stay unpartitioned by default
    assert "PARTITIONED" not in st.create_sql("trace", "url string")


def test_crash_at_bucketed_compaction_wave_resumes_clean(spark, tmp_path):
    """Kill AFTER the wave-2 data writes (wave 2 = a COMPACTION wave for
    seen/store_keys under compact_every=2: deltas folded, nb possibly
    regrown, every row rewritten) but BEFORE its manifest: resume must
    replay wave 2, overwrite the orphan compacted dirs, and converge to
    the uninterrupted state — the highest-risk window the bucketed layout
    added."""
    from grawler import synthgen
    from grawler.engine import build_engine

    web = synthgen.generate(seed=17, n_pages=80, shape="mixed")
    full_dir, crash_dir = str(tmp_path / "full"), str(tmp_path / "crash")

    e1, s1 = build_engine(spark, web, full_dir, CFG)
    e1.state = LocalSnapshotStore(spark, full_dir, compact_every=2)
    full = e1.run(s1, max_waves=3)

    e2, s2 = build_engine(spark, web, crash_dir, CFG)
    e2.state = LocalSnapshotStore(spark, crash_dir, compact_every=2)
    e2.run(s2, max_waves=3)
    manifests = sorted(os.listdir(os.path.join(crash_dir, "_lineage")))
    assert manifests[-1] == "wave-00002.json"
    # wave 2 must actually have compacted the bucketed tables
    import json as _json

    with open(os.path.join(crash_dir, "_lineage", manifests[-1])) as f:
        m2 = _json.load(f)
    assert m2["tables"]["seen"]["mode"] == "compact"
    os.remove(os.path.join(crash_dir, "_lineage", manifests[-1]))

    e3, s3 = build_engine(spark, web, crash_dir, CFG)
    e3.state = LocalSnapshotStore(spark, crash_dir, compact_every=2)
    resumed = e3.run(s3, max_waves=3, resume=True)

    sa = sorted(r["url"] for r in full.seen().collect())
    sb = sorted(r["url"] for r in resumed.seen().collect())
    assert sa == sb and len(sb) == len(set(sb))
    ta = sorted((r["wave"], r["seq"], r["url"])
                for r in full.trace().collect())
    tb = sorted((r["wave"], r["seq"], r["url"])
                for r in resumed.trace().collect())
    assert ta == tb
    ka = sorted(r["image_id"] for r in full.state.read("store_keys")
                .collect())
    kb = sorted(r["image_id"] for r in resumed.state.read("store_keys")
                .collect())
    assert ka == kb and len(kb) == len(set(kb))
    # nb stayed consistent across the replayed compaction
    assert (resumed.state.read_bucketed("seen")[1]
            == full.state.read_bucketed("seen")[1])
