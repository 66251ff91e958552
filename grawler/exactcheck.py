"""Exact membership checks against BUCKETED persisted key tables.

The problem (VERDICT r2 "What's wrong" #1): `probe.join(seen, key,
"left_anti")` reduces the PROBE side via the bloom prefilter, but
Spark must still shuffle the SEEN side every wave — a left-anti join can
only broadcast its right side, and `seen` is the right side. At 10^10 URLs
that is hundreds of GB of shuffle per wave, the one O(total-state) cost the
round-2 engine still paid.

The fix uses the storage layout LocalSnapshotStore now provides
(store.BUCKETED_TABLES): the table is directory-partitioned by
`_b = pmod(xxhash64(key), nb)`, nb re-chosen at each compaction so bucket SIZE
stays bounded (store.bucket_target_rows). The probe then:

  1. hashes its own keys with the SAME function -> the set of buckets it
     can possibly hit (collected driver-side: <= nb ints, metadata-scale,
     same bounded-collect class as the bloom segment map);
  2. partition-prunes the table scan to those buckets (Catalyst pushes the
     `_b IN (...)` filter to directory level: untouched buckets are never
     read);
  3. finds the hits with a broadcast SEMI join (probe keys broadcast, the
     pruned scan streams through it — NO shuffle on either side), then
     anti-joins the (<= probe-sized, so broadcastable) hit set back.

Cost model: O(|probe| x bucket_size) bytes scanned, ZERO shuffle of the big
table — flat while the table grows, because compaction grows nb to hold
bucket_size constant (recorded in BENCH/SEEN_PROBE.md by a since-retired
harness; perfbench reports exactcheck.probe_s). When the probe side exceeds the broadcast budget the
check degrades to a shuffle anti-join against the PRUNED subset only —
never worse than the round-2 full-table shuffle.

The Iceberg deployment gets the same effect declaratively: the tables carry
a `bucket(nb, key)` partition transform (IcebergSnapshotStore.create_sql)
and Spark's storage-partitioned join elides the exchange.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .store import BUCKET_COL

# Probe-broadcast budget, in rows. What is actually broadcast is the
# probe's xxhash64 keys — 8 bytes each plus UnsafeRow+relation overhead
# (~16 B/row), so 2^20 rows ≈ 16–24 MB on the wire and in each executor:
# comfortably inside a 1 GB-heap executor's working space and far cheaper
# than the alternative (shuffling the pruned table side). The `hits`
# broadcast is bounded by the probe row count only up to xxhash64
# collisions and duplicate keys in the pruned table (the semi join is
# hash-keyed, so a colliding store key can match a probe hash it doesn't
# string-equal); exactness is unaffected — the final string-equality
# filter discards them — and the overage is at most a handful of rows. It
# carries
# the key strings (~80 B/row ≈ 80 MB worst case) — legal via the explicit
# hint and degrading gracefully; callers with narrow executors should
# lower cfg.seen_probe_broadcast_rows rather than this default.
DEFAULT_BROADCAST_ROWS = 1 << 20


def bucketed_anti_join(
    probe: DataFrame,
    bucketed: DataFrame,
    nb: int,
    key: str = "url",
    broadcast_max_rows: int = DEFAULT_BROADCAST_ROWS,
    persisted: list | None = None,
) -> DataFrame:
    """probe MINUS bucketed (exact), without shuffling the bucketed side.

    `probe` must be unique by `key` (frontier/children/image refs are —
    their first-wins dedup runs upstream). `bucketed` is a
    store.read_bucketed frame (has BUCKET_COL) written under `nb`. The
    probe plan runs twice (bucket histogram + final join); pass the
    engine's `persisted` list to cache it across the two.
    """
    if persisted is not None:
        probe = probe.persist()
        persisted.append(probe)
    # one bounded job: which buckets does the probe hit, and how many rows
    # is it (drives the broadcast-vs-pruned-shuffle decision)
    hist = (
        probe.groupBy(
            F.pmod(F.xxhash64(F.col(key)), F.lit(nb))
            .cast("int").alias(BUCKET_COL))
        .count().collect()
    )  # <= nb rows
    if not hist:
        return probe
    n_probe = sum(int(r["count"]) for r in hist)
    buckets = [int(r[BUCKET_COL]) for r in hist]
    pruned = bucketed
    if len(buckets) < nb:  # partition pruning: untouched buckets unread
        pruned = bucketed.where(F.col(BUCKET_COL).isin(buckets))
    if n_probe <= broadcast_max_rows:
        # hits = keys present in both; every probe key hashes into a pruned
        # bucket (same hash, same nb — the read_bucketed invariant), so the
        # semi join against the pruned scan is exact. |hits| <= n_probe, so
        # the final anti-join broadcasts too: zero shuffle end to end.
        #
        # The semi probes on xxhash64(key) (single LONG join key ->
        # Spark's LongHashedRelation fast path) instead of the key string:
        # profiling at 30M rows showed the string-keyed broadcast probe
        # costs ~8x the scan itself (3.4s vs 0.4s — hashing + comparing
        # 40-byte UTF8Strings per row), while scan+xxhash64 is free.
        # Hash collisions can only ADD rows to `hits`; the final anti-join
        # compares the real key, so exactness is untouched.
        hits = (
            pruned.select(key, F.xxhash64(F.col(key)).alias("_xh"))
            .join(F.broadcast(
                probe.select(F.xxhash64(F.col(key)).alias("_xh"))),
                "_xh", "left_semi")
            .select(key)
        )
        return probe.join(F.broadcast(hits), key, "left_anti")
    # probe too large to broadcast: shuffle anti-join, but against the
    # pruned subset only (never the whole table)
    return probe.join(pruned.select(key), key, "left_anti")
