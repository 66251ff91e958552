"""The per-row scheduling path, assembled from the layers' public functions
in the order a crawl wave applies them:

  urlnorm.with_canonical -> allowlist -> bloom probe
  -> exactcheck.bucketed_anti_join -> robots predicate
  -> scheduler.schedule_wave

No fetch and no commit. Used timed by frontier_1m and, piece by piece, by
the traced run of both workloads.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from grawler import bloom
from grawler.conf import CrawlConfig
from grawler.engine import FRONTIER_COLS
from grawler.exactcheck import bucketed_anti_join
from grawler.robots import make_agent_allowed_udf
from grawler.scheduler import schedule_wave
from grawler.urlnorm import allow_predicate, with_canonical


@dataclass
class SeenState:
    seen: DataFrame      # (url)
    bucketed: DataFrame  # store.read_bucketed layout (url, ..., _b)
    nb: int
    segments: DataFrame  # bloom segment rows


def filter_meta(cfg: CrawlConfig) -> dict:
    return {"family": "bloom", "segments": cfg.bloom_segments,
            "m": cfg.bloom_m, "k": cfg.bloom_num_hashes}


def commit_seen(store, seen: DataFrame, cfg: CrawlConfig) -> None:
    """Commit `seen` (url) as wave 0 through the store, with its bloom
    segments, the way the engine's first wave leaves them."""
    delta = seen.select("url", F.xxhash64("url").alias("url_hash"),
                        F.lit(0).alias("first_wave"))
    segs = bloom.build_segments(delta, n_segments=cfg.bloom_segments,
                                m=cfg.bloom_m, k=cfg.bloom_num_hashes)
    store.commit_wave(0, {"seen": delta, "bloom": segs},
                      meta={"seen_filter": filter_meta(cfg)})


def read_seen(store) -> SeenState:
    bucketed, nb = store.read_bucketed("seen")
    return SeenState(store.read("seen").select("url"), bucketed, nb,
                     store.read("bloom"))


def canonical_candidates(canon: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Allowlisted frontier rows from a with_canonical output."""
    return canon.where(
        allow_predicate(cfg.allowed_schemes, cfg.blocked_paths)
    ).select(F.col("url_canon").alias("url"), "parent_url", "host",
             "depth", "priority", "wave", "path")


def exact_check(st: SeenState, cfg: CrawlConfig, registry: list):
    def exact(maybe: DataFrame) -> DataFrame:
        return bucketed_anti_join(maybe, st.bucketed, st.nb, "url",
                                  cfg.seen_probe_broadcast_rows, registry)
    return exact


def unseen(cand: DataFrame, st: SeenState, cfg: CrawlConfig,
           registry: list, exact=None) -> DataFrame:
    return bloom.bloom_anti_join(
        cand, st.seen, st.segments, m=cfg.bloom_m, k=cfg.bloom_num_hashes,
        n_segments=cfg.bloom_segments,
        exact_join=exact or exact_check(st, cfg, registry),
        persisted=registry)


def robots_allowed(cand: DataFrame, robots: DataFrame,
                   cfg: CrawlConfig) -> DataFrame:
    agent_allowed = make_agent_allowed_udf(cfg.user_agent)
    with_rob = cand.join(F.broadcast(robots.select("host", "robots_txt")),
                         "host", "left")
    return with_rob.where(agent_allowed(
        F.coalesce("robots_txt", F.lit("")), F.coalesce("path", F.lit("/")))
    ).select(*FRONTIER_COLS)


def schedule(allowed: DataFrame, cfg: CrawlConfig, registry: list):
    return schedule_wave(allowed, cfg.host_tokens_per_wave, cfg.wave_cap,
                         salt_buckets=cfg.salt_buckets, registry=registry)


def run_pass(frontier: DataFrame, st: SeenState, robots: DataFrame,
             cfg: CrawlConfig):
    """One timed pass: -> (wall_s, scheduled, deferred, registry). The
    scheduled and deferred sets are both materialized (a wave consumes
    both); the caller checks them and then unpersists the registry."""
    registry: list = []
    t0 = time.perf_counter()
    cand = canonical_candidates(with_canonical(frontier, "url"), cfg)
    allowed = robots_allowed(unseen(cand, st, cfg, registry), robots, cfg)
    scheduled, deferred = schedule(allowed, cfg, registry)
    scheduled, deferred = scheduled.persist(), deferred.persist()
    registry += [scheduled, deferred]
    scheduled.count()
    deferred.count()
    return time.perf_counter() - t0, scheduled, deferred, registry


def release(registry: list) -> None:
    for df in registry:
        df.unpersist()


# ------------------------------------------------------------ checking

def fingerprint(df: DataFrame, *cols: str) -> tuple:
    """Order-independent (count, two 40-bit hash sums) of a row set."""
    c = [F.col(x).cast("long") if x == "seq" else F.col(x) for x in cols]
    mod = F.lit(1 << 40)
    r = df.select(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*c, F.lit(11)), mod)),
        F.sum(F.pmod(F.xxhash64(*c, F.lit(13)), mod)),
    ).first()
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


@dataclass
class Reference:
    scheduled: tuple
    deferred: tuple


def reference(expected: DataFrame, seen: DataFrame, robots: DataFrame,
              cfg: CrawlConfig) -> Reference:
    """The same wave in plain Spark: an anti-join against seen, the robots
    verdict from how the generator wrote the rules, an unsalted per-host
    row_number window and one global row_number for the sequence."""
    cand = (expected.where("allowed").drop("allowed", "is_seen")
            .join(seen, "url", "left_anti")
            .join(robots.select("host", "private_denied"), "host", "left"))
    ok = cand.where(~(F.coalesce("private_denied", F.lit(False))
                      & F.col("path").startswith("/private/")))
    ok = ok.withColumn("priority", F.lit(0))
    w = Window.partitionBy("host").orderBy("depth", "priority", "url")
    ranked = ok.withColumn("_r", F.row_number().over(w)).persist()
    k = cfg.host_tokens_per_wave
    g = Window.orderBy("depth", "priority", "host", "url")
    seq = (ranked.where(F.col("_r") <= k)
           .withColumn("seq", F.row_number().over(g) - 1))
    sched = seq.where(F.col("seq") < cfg.wave_cap)
    deferred = (ranked.where(F.col("_r") > k).select("url")
                .unionByName(seq.where(F.col("seq") >= cfg.wave_cap)
                             .select("url")))
    ref = Reference(fingerprint(sched, "url", "seq"),
                    fingerprint(deferred, "url"))
    ranked.unpersist()
    return ref


def check_pass(scheduled: DataFrame, deferred: DataFrame, ref: Reference,
               cfg: CrawlConfig) -> list[str]:
    errors = []
    if fingerprint(scheduled, "url", "seq") != ref.scheduled:
        errors.append("scheduled (url, seq) set differs from the reference")
    if fingerprint(deferred, "url") != ref.deferred:
        errors.append("deferred set differs from the reference")
    r = scheduled.agg(F.min("seq"), F.max("seq"), F.count(F.lit(1)),
                      F.countDistinct("seq")).first()
    n = int(r[2])
    if n and not (r[0] == 0 and r[1] == n - 1 and r[3] == n):
        errors.append(f"seq not contiguous: min={r[0]} max={r[1]} n={n}")
    top = scheduled.groupBy("host").count().agg(F.max("count")).first()[0]
    if top is not None and top > cfg.host_tokens_per_wave:
        errors.append(f"a host got {top} > {cfg.host_tokens_per_wave} "
                      "fetches in one wave")
    return errors
