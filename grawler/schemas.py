"""Explicit StructType schemas for every engine table.

Replaces the reference's implicit JSON-serialized Go structs
(src/common/common.go:29-68) with declared schemas (SURVEY.md §1.3).
The store schema is fixed by BASELINE.json input_hint:
(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
 caption:string, phash:int64).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable=True) for n, t in fields])


FRONTIER = _s(
    ("url", StringType()),
    ("parent_url", StringType()),
    ("host", StringType()),
    ("depth", IntegerType()),
    ("priority", IntegerType()),
    ("wave", IntegerType()),
    ("path", StringType()),  # canonical path, computed once at enqueue;
    #   the robots matcher reads it (no re-canonicalization divergence)
)

SEEN = _s(
    ("url", StringType()),
    ("first_wave", IntegerType()),
)

ROBOTS = _s(
    ("host", StringType()),
    ("robots_txt", StringType()),
    ("fetched_ts", TimestampType()),
)

# the synthetic web: replaces live HTTP (FIXTURES.md §2)
PAGES = _s(
    ("url", StringType()),
    ("host", StringType()),
    ("status", ShortType()),
    ("content_type", StringType()),
    ("fetch_latency_ms", IntegerType()),
    ("html", StringType()),
    ("child_urls", ArrayType(StringType())),
    ("image_ids", ArrayType(StringType())),
)

IMAGES = _s(  # synthetic image corpus (ground truth feeding the store)
    ("image_id", StringType()),
    ("bytes", BinaryType()),
    ("w", IntegerType()),
    ("h", IntegerType()),
    ("fmt", StringType()),
    ("caption", StringType()),
)

# BASELINE.json input_hint — the persisted store row
STORE = _s(
    ("image_id", StringType()),
    ("bytes", BinaryType()),
    ("w", IntegerType()),
    ("h", IntegerType()),
    ("fmt", StringType()),
    ("caption", StringType()),
    ("phash", LongType()),
)

METRICS = _s(
    ("wave", IntegerType()),
    ("partition_id", IntegerType()),
    ("scheduled", LongType()),
    ("fetched", LongType()),
    ("parsed", LongType()),
    ("deduped", LongType()),
    ("stored", LongType()),
    ("errors", LongType()),
    ("wall_ms", LongType()),
)

TRACE = _s(  # deterministic scheduled-fetch trace (ordering golden tests)
    ("wave", IntegerType()),
    ("seq", IntegerType()),
    ("url", StringType()),
    ("host", StringType()),
    ("depth", IntegerType()),
)

BLOOM_SEGMENT = _s(
    ("segment", IntegerType()),
    ("bits", BinaryType()),
    ("n_keys", LongType()),
)

SEEDS = _s(("url", StringType()),)
