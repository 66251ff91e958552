"""Scheduling operators: deterministic global sequence, per-host politeness
top-k with skew salting, wave cap (SURVEY.md §2.5).

The reference's ordering is emergent FIFO from a shared MPMC queue drained by
20 goroutines (/root/reference/src/crawler.go:28,96-113); its 700 ms per-host
gate is a latent no-op (src/crawler.go:194-199). The engine makes both
explicit and deterministic:

  - politeness: per-host top-k by (depth, priority, url) — k tokens per wave
    (token bucket: wave_duration_ms / politeness_budget_ms). Overflow rows
    are DEFERRED (stay in the frontier), mirroring the reference's
    re-enqueue (src/crawler.go:196).
  - wave cap: global top-N by (depth, priority, host, url) — the analogue of
    the queue capacity 100_000 (src/crawler.go:42), but deferring instead of
    dropping (src/utils/utils.go:191-194 silently drops; we do not lose data).
  - global sequence: scale-friendly two-phase rank (range partition + per-
    partition offsets), not a single-partition window — the classic
    bottleneck at 10^10 rows.

Skew: per-host top-k is computed salted-first (local top-k per (host, salt),
then exact top-k on the reduced union), so one mega-host cannot serialize a
single task (north_rule: skew handled explicitly).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

POLITE_ORDER = ("depth", "priority", "url")
WAVE_ORDER = ("depth", "priority", "host", "url")


def per_host_topk(
    df: DataFrame,
    k: int,
    salt_buckets: int = 16,
    rank_col: str = "hrank",
    *,
    registry: list,
) -> tuple[DataFrame, DataFrame]:
    """Per-host politeness: returns (kept, deferred_overflow).

    Two-phase, no anti-joins: a salted local top-k tags each (host, salt)
    group — rows beyond k locally can never be in the global per-host top-k,
    so they defer immediately; survivors (<= salt_buckets * k per host,
    regardless of skew) take the exact per-host window, whose overflow also
    defers. kept carries rank_col (1-based, <= k).

    The two window OUTPUTS (tagged, ranked) are persisted into `registry`,
    which the caller unpersists once the wave has materialized: both the
    kept and the deferred branch read each window's result, and without
    the cache the engine's commit-time consumers of `deferred` re-executed
    the entire schedule pipeline (canonicalize + both window shuffles) from
    scratch inside the frontier table write — measured ~5s of the ~7s
    frontier commit at a 100k wave.
    """
    cols = df.columns
    order = [F.col(c) for c in POLITE_ORDER]
    if salt_buckets > 1:
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
        )
        w_local = Window.partitionBy("host", "_salt").orderBy(*order)
        tagged = (salted.withColumn("_lr", F.row_number().over(w_local))
                  .persist())
        registry.append(tagged)
        survivors = tagged.where(F.col("_lr") <= k).drop("_lr", "_salt")
        defer_local = tagged.where(F.col("_lr") > k).select(*cols)
    else:
        survivors = df
        defer_local = df.limit(0)
    w = Window.partitionBy("host").orderBy(*order)
    ranked = survivors.withColumn(rank_col, F.row_number().over(w)).persist()
    registry.append(ranked)
    kept = ranked.where(F.col(rank_col) <= k)
    defer_exact = ranked.where(F.col(rank_col) > k).select(*cols)
    return kept, defer_local.unionByName(defer_exact)


def global_sequence(
    df: DataFrame, order_cols=WAVE_ORDER, seq_col: str = "seq",
    *,
    registry: list,
) -> DataFrame:
    """Deterministic 0-based global sequence in sort order, without a
    single-partition window.

    Phase 1: range-partition + sort by order_cols, persist (fixes the range
    bounds AND the scan order). Phase 2: per-partition counts (tiny collect:
    one row per partition) -> cumulative offsets -> NATIVE per-row index:
    monotonically_increasing_id() is (partition id << 33) + the row's scan
    position within its partition, so `mid & (2^33 - 1)` is the local index
    over the persisted sorted order and seq = offset[_pid] + local index.
    This replaces the previous mapInPandas pass — same offsets, same
    per-partition ordering, but zero Python crossing (the r06 baseline plan
    showed every scheduled row paying a MapInPandas round-trip just to add
    this one column).
    """
    d = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    registry.append(d)  # caller unpersists after the wave materializes
    counts = {r["_pid"]: r["cnt"] for r in
              d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[c for pid, off in offsets.items()
          for c in (F.lit(pid), F.lit(off).cast("long"))]
    ) if offsets else F.create_map().cast("map<int,bigint>")
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    seq = (F.coalesce(off_map[F.col("_pid")], F.lit(0).cast("long"))
           + local).cast("long").alias(seq_col)
    return d.select(*[c for c in d.columns if c != "_pid"], seq)


def schedule_wave(
    frontier: DataFrame,
    host_tokens: int,
    wave_cap: int,
    salt_buckets: int = 16,
    *,
    registry: list,
):
    """Politeness + wave cap. Returns (scheduled_with_seq, deferred).

    deferred keeps the original frontier columns and stays pending. Every
    DataFrame persisted on the way is appended to `registry`, which the
    caller unpersists.
    """
    cols = frontier.columns
    kept, deferred_polite = per_host_topk(
        frontier, host_tokens, salt_buckets=salt_buckets, registry=registry)
    # global_sequence reads its input twice (range-bound sampling + the
    # partitioning pass): per_host_topk cached `ranked`, so both reads are
    # a cheap cache-scan + filter and the window pipeline doesn't rerun.
    polite = kept.drop("hrank").select(*cols)
    seq = global_sequence(polite, WAVE_ORDER, "seq", registry=registry)
    scheduled = seq.where(F.col("seq") < wave_cap)
    over_cap = seq.where(F.col("seq") >= wave_cap).select(*cols)
    deferred = deferred_polite.unionByName(over_cap)
    return scheduled, deferred
