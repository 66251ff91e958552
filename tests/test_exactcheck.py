"""exactcheck.bucketed_anti_join == plain left_anti, on every path."""

import pyspark.sql.functions as F
import pytest

from grawler.exactcheck import bucketed_anti_join
from grawler.store import BUCKET_COL, LocalSnapshotStore


def _bucketed(spark, tmp_path, urls, nb=8):
    """Commit urls as the `seen` table and read back the bucketed layout."""
    st = LocalSnapshotStore(spark, str(tmp_path), initial_buckets=nb)
    st.commit_wave(0, {"seen": spark.createDataFrame(
        [(u,) for u in urls], "url string")})
    df, got_nb = st.read_bucketed("seen")
    assert got_nb == nb
    return df, got_nb


@pytest.mark.parametrize("broadcast_max", [1_000_000, 0])
def test_matches_plain_anti_join(spark, tmp_path, broadcast_max):
    """Both the zero-shuffle broadcast path (big budget) and the
    pruned-shuffle fallback (budget 0) must equal the plain anti-join."""
    seen_urls = [f"http://h{i % 7}.example/p{i}" for i in range(200)]
    probe_urls = [f"http://h{i % 7}.example/p{i}" for i in range(150, 260)]
    seen_b, nb = _bucketed(spark, tmp_path, seen_urls)
    probe = spark.createDataFrame([(u,) for u in probe_urls], "url string")

    got = sorted(r["url"] for r in bucketed_anti_join(
        probe, seen_b, nb, "url", broadcast_max).collect())
    want = sorted(r["url"] for r in probe.join(
        seen_b.select("url"), "url", "left_anti").collect())
    assert got == want
    assert got == sorted(f"http://h{i % 7}.example/p{i}"
                         for i in range(200, 260))


def test_all_new_and_all_seen(spark, tmp_path):
    seen_b, nb = _bucketed(spark, tmp_path, ["a", "b", "c"])
    all_new = spark.createDataFrame([("x",), ("y",)], "url string")
    assert bucketed_anti_join(all_new, seen_b, nb).count() == 2
    all_seen = spark.createDataFrame([("a",), ("c",)], "url string")
    assert bucketed_anti_join(all_seen, seen_b, nb).count() == 0


def test_empty_probe(spark, tmp_path):
    seen_b, nb = _bucketed(spark, tmp_path, ["a", "b"])
    empty = spark.createDataFrame([], "url string")
    assert bucketed_anti_join(empty, seen_b, nb).count() == 0


def test_pruning_reads_only_probe_buckets(spark, tmp_path):
    """The scan under the exact check must carry a partition filter on the
    probe's buckets — untouched _b dirs are never read."""
    seen_urls = [f"http://x.example/{i}" for i in range(500)]
    seen_b, nb = _bucketed(spark, tmp_path, seen_urls, nb=16)
    probe = spark.createDataFrame([(seen_urls[0],)], "url string")
    out = bucketed_anti_join(probe, seen_b, nb)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert BUCKET_COL in plan  # the isin(_b) partition filter survived
    assert out.count() == 0


def test_probe_keys_spanning_delta_and_compact(spark, tmp_path):
    """Seen rows living in different manifest entries (pre/post compaction,
    different waves) are all visible to one probe."""
    st = LocalSnapshotStore(spark, str(tmp_path), compact_every=2,
                            initial_buckets=4)
    for w, urls in enumerate([["a", "b"], ["c"], ["d"], ["e"]]):
        st.commit_wave(w, {"seen": spark.createDataFrame(
            [(u,) for u in urls], "url string")})
    seen_b, nb = st.read_bucketed("seen")
    probe = spark.createDataFrame(
        [("a",), ("c",), ("d",), ("e",), ("zzz",)], "url string")
    got = sorted(r["url"] for r in
                 bucketed_anti_join(probe, seen_b, nb).collect())
    assert got == ["zzz"]


def test_broadcast_path_plan_has_no_shuffle(spark, tmp_path):
    """The whole point of the layout: under the broadcast budget, the plan
    must be BroadcastHashJoin(LeftSemi) -> BroadcastHashJoin(LeftAnti)
    with ZERO hash-partitioning exchanges — the seen side is scanned
    (pruned), never shuffled."""
    seen_b, nb = _bucketed(spark, tmp_path,
                           [f"http://x.example/{i}" for i in range(300)])
    probe = spark.createDataFrame(
        [(f"http://x.example/{i}",) for i in range(250, 320)], "url string")
    plan = (bucketed_anti_join(probe, seen_b, nb)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") == 2


class _ReadOnlyStore:
    """A store without the bucketed layout (the IcebergSnapshotStore
    surface the engine's exact check sees: `read` only)."""

    def __init__(self, store):
        self._store = store

    def read(self, table, upto_wave=None):
        return self._store.read(table, upto_wave)


def test_engine_unseen_on_every_store_path(spark, tmp_path):
    """CrawlEngine._unseen removes exactly the committed keys: through the
    bucketed probe, through the plain anti-join of a store without
    read_bucketed, and as the identity when nothing is committed."""
    from grawler import schemas
    from grawler.engine import CrawlEngine

    empty = spark.createDataFrame([], schemas.PAGES)
    eng = CrawlEngine(spark, empty, spark.createDataFrame([], schemas.ROBOTS),
                      spark.createDataFrame([], schemas.IMAGES),
                      str(tmp_path / "wh"))
    probe = spark.createDataFrame(
        [(f"http://x.example/{i}",) for i in range(40, 60)], "url string")
    for state in (eng.state, _ReadOnlyStore(eng.state)):
        eng.state = state
        assert eng._unseen(probe, "seen", "url", []) is probe
    local = eng.state._store
    local.commit_wave(0, {"seen": spark.createDataFrame(
        [(f"http://x.example/{i}",) for i in range(50)], "url string")})
    want = [f"http://x.example/{i}" for i in range(50, 60)]
    for state in (local, _ReadOnlyStore(local)):
        eng.state = state
        got = eng._unseen(probe, "seen", "url", [])
        assert sorted(r["url"] for r in got.collect()) == sorted(want)
