"""Partitioned bloom URL-seen prefilter (north_star: bloom/cuckoo filter
with vectorized xxhash64; SURVEY.md §4.3 item 1).

The exact seen set at 10^10 URLs cannot be shuffled against every wave's
new children; the bloom prefilter routes the (overwhelmingly common)
definitely-unseen children around the exact check entirely:

  build:  seen urls -> segment = xxhash64(url) mod S; k bit positions =
          xxhash64(url, i) mod m  (all JVM-side) -> applyInPandas per
          segment packs a numpy bit array -> (segment, bits, n_keys) rows.
  probe:  the wave's deduped children compute the same segment/positions
          natively; one Arrow pass tests bits against the broadcast
          segment map (or, above the broadcast budget, a cogroup by
          segment).
  dedup:  definitely-new rows skip the exact check; only maybe-seen rows
          take it (the engine plugs in exactcheck.bucketed_anti_join; bloom
          false positives are harmless, false negatives are impossible ->
          exactness preserved).

The frontier itself is never probed: it is disjoint from seen by
construction (grawler.engine, step 1). Segments are persistable rows
(BLOOM_SEGMENT schema), so wave checkpoints carry bloom state
incrementally (bitwise OR of per-wave segment deltas).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

DEFAULT_SEGMENTS = 64
DEFAULT_BITS = 1 << 17  # 16 KiB per segment; sized up via conf at scale
DEFAULT_HASHES = 4


def _segment_col(url_col, n_segments: int = DEFAULT_SEGMENTS):
    return F.pmod(F.xxhash64(url_col), F.lit(n_segments)).cast("int")


def _position_cols(url_col, m: int, k: int):
    return [
        F.pmod(F.xxhash64(url_col, F.lit(i)), F.lit(m)).cast("long")
        for i in range(k)
    ]


def build_segments(
    seen: DataFrame,
    url_col: str = "url",
    n_segments: int = DEFAULT_SEGMENTS,
    m: int = DEFAULT_BITS,
    k: int = DEFAULT_HASHES,
) -> DataFrame:
    """-> (segment int, bits binary, n_keys long), one row per segment."""
    u = F.col(url_col)
    prepared = seen.select(
        F.pmod(F.xxhash64(u), F.lit(n_segments)).cast("int").alias("segment"),
        F.array(*_position_cols(u, m, k)).alias("pos"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment"].iloc[0])
        bits = np.zeros(m, dtype=bool)
        for positions in pdf["pos"]:
            bits[np.asarray(positions, dtype=np.int64)] = True
        return pd.DataFrame(
            {"segment": [seg], "bits": [np.packbits(bits).tobytes()],
             "n_keys": [len(pdf)]}
        )

    return (
        prepared.repartition(n_segments, "segment")
        .groupBy("segment")
        .applyInPandas(pack, schema="segment int, bits binary, n_keys long")
    )


def merge_segment_sets(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bitwise OR of two segment sets (incremental wave updates)."""

    def orjoin(key, pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = [np.frombuffer(bz, dtype=np.uint8) for bz in pdf["bits"]]
        out = arrs[0].copy()
        for x in arrs[1:]:
            out |= x
        return pd.DataFrame({
            "segment": [key[0]], "bits": [out.tobytes()],
            "n_keys": [int(pdf["n_keys"].sum())],
        })

    return (
        a.unionByName(b)
        .groupBy("segment")
        .applyInPandas(orjoin, schema="segment int, bits binary, n_keys long")
    )


def make_probe_udf(segment_map: dict[int, bytes], m: int, k: int):
    """Vectorized membership probe against broadcast unpacked segments."""
    unpacked = {
        seg: np.unpackbits(np.frombuffer(bz, dtype=np.uint8))
        for seg, bz in segment_map.items()
    }

    @pandas_udf(BooleanType())
    def maybe_seen(segment: pd.Series, *positions: pd.Series) -> pd.Series:
        seg_arr = segment.to_numpy()
        pos = [p.to_numpy(dtype=np.int64) for p in positions]
        out = np.zeros(len(segment), dtype=bool)
        for seg in np.unique(seg_arr):
            arr = unpacked.get(int(seg))
            mask = seg_arr == seg
            if arr is None:
                continue  # empty segment -> definitely new
            hit = np.ones(mask.sum(), dtype=bool)
            for p in pos:
                hit &= arr[p[mask]] == 1
            out[mask] = hit
        return pd.Series(out)

    return maybe_seen


def bloom_anti_join(
    frontier: DataFrame,
    seen: DataFrame,
    segments: DataFrame | None,
    url_col: str = "url",
    m: int = DEFAULT_BITS,
    k: int = DEFAULT_HASHES,
    n_segments: int = DEFAULT_SEGMENTS,
    exact_join=None,
    persisted: list | None = None,
) -> DataFrame:
    """Exact frontier-minus-seen with bloom shuffle avoidance. `frontier`
    is any url-keyed frame (the engine passes a wave's new children).

    segments=None falls back to the plain anti-join. `exact_join` plugs in
    the exact check for maybe-seen rows (the engine passes
    exactcheck.bucketed_anti_join so the seen side is never shuffled);
    default is the plain anti-join against `seen`. `persisted` (engine's
    per-wave cache list) caches the flagged frontier so the probe UDF runs
    once, not once per union branch.
    """
    if segments is None:
        return frontier.join(seen.select(url_col), url_col, "left_anti")
    seg_rows = segments.collect()
    # OR-union rows sharing a segment id: unmerged per-wave deltas are a
    # legal input (same contract as the cogroup path) — last-row-wins
    # would drop segments and return false 'definitely new' for seen URLs
    seg_map: dict[int, bytes] = {}
    for r in seg_rows:
        b = bytes(r["bits"])
        prev = seg_map.get(r["segment"])
        if prev is not None:
            b = np.bitwise_or(np.frombuffer(prev, dtype=np.uint8),
                              np.frombuffer(b, dtype=np.uint8)).tobytes()
        seg_map[r["segment"]] = b
    probe = make_probe_udf(seg_map, m, k)
    u = F.col(url_col)
    with_flag = frontier.withColumn(
        "_maybe",
        probe(_segment_col(u, n_segments), *_position_cols(u, m, k)),
    )
    if persisted is not None:
        with_flag = with_flag.persist()
        persisted.append(with_flag)
    definitely_new = with_flag.where(~F.col("_maybe")).drop("_maybe")
    maybe = with_flag.where(F.col("_maybe")).drop("_maybe")
    checked = (exact_join(maybe) if exact_join is not None
               else maybe.join(seen.select(url_col), url_col, "left_anti"))
    return definitely_new.unionByName(checked)


def bloom_anti_join_cogroup(
    frontier: DataFrame,
    seen: DataFrame,
    segments: DataFrame,
    url_col: str = "url",
    m: int = DEFAULT_BITS,
    k: int = DEFAULT_HASHES,
    n_segments: int = DEFAULT_SEGMENTS,
    exact_join=None,
    persisted: list | None = None,
) -> DataFrame:
    """Scale-path probe: NO driver collect, NO broadcast.

    The frontier is shuffled by segment id and cogrouped with the segment
    table, so each task holds exactly one segment's bit array (total bits /
    n_segments) against its slice of the frontier — valid at 10^10 keys
    where the 20 GB filter cannot be broadcast (docs/SCALE.md §3).
    """
    cols = frontier.columns
    u = F.col(url_col)
    tagged = frontier.select(
        "*",
        _segment_col(u, n_segments).alias("_seg"),
        F.array(*_position_cols(u, m, k)).alias("_pos"),
    )

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in frontier.schema.fields
    ) + ", `_maybe` boolean"

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left.drop(columns=["_seg", "_pos"])
        if len(left) == 0 or len(right) == 0:
            out["_maybe"] = False  # empty segment: everything definitely new
            return out
        pos = np.stack([np.asarray(p, dtype=np.int64) for p in left["_pos"]])
        # OR-probe across ALL segment rows: a caller passing unmerged
        # per-wave deltas (multiple rows per segment) gets the union
        # semantics — a key present in ANY delta is maybe-seen. Reading only
        # row 0 would silently declare seen URLs definitely-new.
        maybe = np.zeros(len(left), dtype=bool)
        for bz in right["bits"]:
            bits = np.unpackbits(np.frombuffer(bytes(bz), dtype=np.uint8))
            maybe |= (bits[pos] == 1).all(axis=1)
        out["_maybe"] = maybe
        return out

    flagged = (
        tagged.groupby("_seg")
        .cogroup(segments.withColumnRenamed("segment", "_seg").groupby("_seg"))
        .applyInPandas(probe, schema=out_schema)
    )
    if persisted is not None:
        flagged = flagged.persist()
        persisted.append(flagged)
    definitely_new = flagged.where(~F.col("_maybe")).select(*cols)
    maybe = flagged.where(F.col("_maybe")).select(*cols)
    checked = (exact_join(maybe) if exact_join is not None
               else maybe.join(seen.select(url_col), url_col, "left_anti"))
    return definitely_new.unionByName(checked)


def fill_fraction(segments: DataFrame, m: int) -> float:
    """Max per-segment bit-fill fraction (popcount/m). The probe's
    false-positive rate is ~ fill^k, so a static m becomes useless as the
    seen set grows past its sizing; the engine rebuilds with doubled m
    when max fill crosses cfg.filter_max_load (amortized at compaction).
    One tiny job: <= n_segments rows of (segment, popcount) collected."""

    def pop(batches):
        for pdf in batches:
            yield pd.DataFrame({"c": [
                int(np.unpackbits(np.frombuffer(bytes(bz),
                                                dtype=np.uint8)).sum())
                for bz in pdf["bits"]]})

    rows = segments.select("bits").mapInPandas(pop, "c long").collect()
    return max((r["c"] / m for r in rows), default=0.0)
