"""The BSP crawl engine: one wave = a handful of pure batch Spark jobs.

Spark-first re-expression of the reference crawl loop (SURVEY.md §3.2):
the per-URL imperative pipeline /root/reference/src/crawler.go:116-188
becomes, per wave:

  frontier snapshot (disjoint from seen: children are checked at enqueue)
    -> robots TTL refetch + broadcast join + vectorized matcher
                                            (S4/S5/F5/C9; src/crawler.go:222-254)
    -> per-host politeness top-k, salted    (F4; src/crawler.go:194-199 intended)
    -> global wave cap + deterministic seq  (cap 100k; src/crawler.go:42)
    -> fetch-sim join vs pages              (S3; src/utils/utils.go:22-45)
    -> status/content-type filter           (F7; src/crawler.go:256-282)
    -> parse UDF: children+images+metadata  (C1-C6; src/parsers/html.go)
    -> explode children -> canonicalize -> dedup -> next frontier
                                            (F1/F2/F6/J4; src/utils/utils.go:161-197)
    -> children minus seen: bloom prefilter + bucketed exact check
                                            (F3/J1; src/crawler.go:190-192)
    -> explode images -> decode+phash -> store delta (first-wins MERGE)
                                            (C10/K1; src/db/db.go:46-69)
    -> commit wave snapshot (lineage manifest = atomic resume point)

All Python crossings are Arrow-vectorized pandas UDFs; everything else is
native Catalyst expressions (whole-stage codegen). State equality against
the pure-Python oracle (grawler.oracle) is the correctness contract.
"""

from __future__ import annotations

import datetime as dt
import time as _time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import bloom, codecs, schemas
from .conf import CrawlConfig, DEFAULT
from .exactcheck import bucketed_anti_join
from .robots import make_agent_allowed_udf
from .scheduler import schedule_wave
from .store import LocalSnapshotStore
from .urlnorm import allow_predicate, canonicalize_udf

FRONTIER_COLS = ["url", "parent_url", "host", "depth", "priority", "wave",
                 "path"]
# non-key frontier column types, for null-padded 'remove' delta rows
_FRONTIER_NULLS = [("parent_url", "string"), ("host", "string"),
                   ("depth", "int"), ("priority", "int"), ("wave", "int"),
                   ("path", "string")]

IMG_ID_PATTERN = r"/img/(img-\d{6}-\d+)\."

DOC_SCHEMA = StructType(
    [
        StructField("child_urls", ArrayType(StringType())),
        StructField(
            "images",
            ArrayType(
                StructType(
                    [
                        StructField("src", StringType()),
                        StructField("caption", StringType()),
                    ]
                )
            ),
        ),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("site_name", StringType()),
        StructField("icon", StringType()),
        StructField("content", StringType()),
    ]
)


@pandas_udf(DOC_SCHEMA)
def parse_doc_udf(
    html: pd.Series, base_url: pd.Series, host: pd.Series, ctype: pd.Series
) -> pd.DataFrame:
    # import inside the UDF: executed on workers
    from .htmlparse import normalize_text, parse_html

    rows = []
    for h, b, ho, ct in zip(html, base_url, host, ctype):
        if ct == "text/html":
            d = parse_html(h, b, ho)
            rows.append(
                (
                    d["child_urls"],
                    [(i["src"], i["caption"]) for i in d["images"]],
                    d["title"], d["description"], d["site_name"], d["icon"],
                    d["content"],
                )
            )
        else:
            # text/plain: C6 defaulting (utils.go:123-141): title/description
            # from the normalized content, site_name from host
            content = normalize_text(h)
            rows.append(([], [], content[:60] or None,
                         content[:160] or None, ho, None, content))
    return pd.DataFrame(
        rows,
        columns=["child_urls", "images", "title", "description",
                 "site_name", "icon", "content"],
    )


PHASH_SCHEMA = StructType(
    [
        StructField("phash", LongType()),
        StructField("dec_w", IntegerType()),
        StructField("dec_h", IntegerType()),
        StructField("ok", BooleanType()),
    ]
)


@pandas_udf(PHASH_SCHEMA)
def decode_phash_udf(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    # decode is per-row (variable-size payloads); the phash is one
    # vectorized call over the whole Arrow batch (codecs.phash64_batch) —
    # the 64-slice-mean-per-image scalar path was 89% of decode+phash CPU
    n = len(data)
    pxs, ok_idx = [], []
    dec_w = np.empty(n, dtype=object)
    dec_h = np.empty(n, dtype=object)
    for i, (b, f) in enumerate(zip(data, fmt)):
        try:
            px = codecs.decode(bytes(b), f)
        except Exception:
            dec_w[i] = dec_h[i] = None
            continue
        pxs.append(px)
        ok_idx.append(i)
        dec_w[i], dec_h[i] = px.shape[1], px.shape[0]
    phash = np.empty(n, dtype=object)
    phash[:] = None
    if pxs:
        phash[np.asarray(ok_idx)] = list(codecs.phash64_batch(pxs))
    ok = np.zeros(n, dtype=bool)
    if ok_idx:
        ok[np.asarray(ok_idx)] = True
    return pd.DataFrame(
        {"phash": phash, "dec_w": dec_w, "dec_h": dec_h, "ok": ok})


def _filter_meta(cfg: CrawlConfig) -> dict:
    """The cfg-default bloom parameters. The engine treats this dict as
    STATE (self._filter_params): committed with every wave, adopted back on
    resume, and grown in place (doubled m) when the filter saturates — so
    the persisted segment bytes are always decoded with the parameters they
    were built under. Segments whose recorded meta is not a bloom record
    are never decoded: resume rebuilds them from the exact seen set."""
    return {"family": "bloom", "segments": cfg.bloom_segments,
            "m": cfg.bloom_m, "k": cfg.bloom_num_hashes}


@dataclass
class CrawlResult:
    waves: int
    state: LocalSnapshotStore

    def trace(self) -> DataFrame | None:
        return self.state.read("trace")

    def seen(self) -> DataFrame | None:
        return self.state.read("seen")

    def store(self) -> DataFrame | None:
        return self.state.read("store")

    def frontier(self) -> DataFrame | None:
        return self.state.read("frontier")

    def metrics(self) -> DataFrame | None:
        return self.state.read("metrics")

    def pages_meta(self) -> DataFrame | None:
        return self.state.read("pages_meta")

    def robots_cache(self) -> DataFrame | None:
        return self.state.read("robots_cache")

    def host_budget(self) -> DataFrame | None:
        """A3 per-host fetch accounting, derived from the trace (one row
        per scheduled fetch): last crawled wave and fetch count per host."""
        trace = self.trace()
        if trace is None:
            return None
        return trace.groupBy("host").agg(
            F.max("wave").alias("last_crawl_wave"),
            F.count("*").cast("long").alias("fetches"),
        )


class CrawlEngine:
    """Drives the wave loop over DataFrame-native crawl state."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots_truth: DataFrame,
        images: DataFrame,
        warehouse: str,
        cfg: CrawlConfig = DEFAULT,
        robots_cache_init: DataFrame | None = None,
        fetcher=None,
        state_store=None,
    ):
        from .fetch import SimFetcher

        self.spark = spark
        self.cfg = cfg
        # storage seam: LocalSnapshotStore (parquet + manifest lineage) in
        # the sandbox; pass an IcebergSnapshotStore for the spark-submit
        # deployment (same commit_wave/read/last_wave contract)
        self.state = state_store or LocalSnapshotStore(spark, warehouse)
        # live bloom parameters: start at the cfg defaults, adopted from
        # committed meta on resume, m doubled in place when the filter
        # saturates (see run_wave's compaction-time check)
        self._filter_params = _filter_meta(cfg)
        self.agent_allowed = make_agent_allowed_udf(cfg.user_agent)
        self.robots_cache_init = robots_cache_init
        # the fetch seam: SimFetcher joins the synthetic web (sandbox
        # default); an HttpFetcher (grawler.fetch) does real batched HTTP
        # with the same output columns at deploy
        self.fetcher = fetcher or SimFetcher(pages, robots_truth)
        self.images = images.persist()

    # ----------------------------------------------------------- helpers

    def _wave_ts(self, wave: int) -> dt.datetime:
        return dt.datetime.fromtimestamp(
            self.cfg.clock_origin_s + wave * self.cfg.wave_duration_ms / 1000.0,
            tz=dt.timezone.utc,
        )

    def _seed_frontier(self, seeds: DataFrame) -> DataFrame:
        c = canonicalize_udf(F.col("url"), F.lit(None).cast("string"))
        canon = (
            seeds.withColumn("_c", c)
            .select(
                F.col("_c.url").alias("url"),
                F.lit("").alias("parent_url"),
                F.col("_c.host").alias("host"),
                F.lit(0).alias("depth"),
                F.lit(0).alias("priority"),
                F.lit(0).alias("wave"),
                F.col("_c.scheme").alias("scheme"),
                F.col("_c.path").alias("path"),
                (F.col("_c.valid") == "1").alias("url_valid"),
            )
        )
        return (
            canon.where(
                allow_predicate(
                    self.cfg.allowed_schemes, self.cfg.blocked_paths
                )
            )
            .dropDuplicates(["url"])
            .select(*FRONTIER_COLS)
        )

    def _build_segments(self, urls: DataFrame) -> DataFrame:
        p = self._filter_params
        return bloom.build_segments(urls, n_segments=int(p["segments"]),
                                    m=int(p["m"]), k=int(p["k"]))

    def _unseen(self, df: DataFrame, table: str, key: str,
                persisted: list) -> DataFrame:
        """`df` minus the keys committed to `table` (exact; `df` unique by
        `key`). A store with the bucketed layout gets the partition-pruned
        probe (grawler.exactcheck), which never shuffles the table; any
        other store (IcebergSnapshotStore) a plain anti-join."""
        if hasattr(self.state, "read_bucketed"):
            rb = self.state.read_bucketed(table)
            if rb is None:
                return df
            return bucketed_anti_join(df, rb[0], rb[1], key,
                                      self.cfg.seen_probe_broadcast_rows,
                                      persisted)
        committed = self.state.read(table)
        if committed is None:
            return df
        return df.join(committed.select(key), key, "left_anti")

    # ----------------------------------------------------------- the wave

    def run_wave(
        self, wave: int, frontier: DataFrame, robots_cache: DataFrame,
        bloom_segments: DataFrame | None = None,
    ) -> dict:
        cfg, spark = self.cfg, self.spark
        ts = self._wave_ts(wave)
        stale_before = ts - dt.timedelta(days=cfg.robots_ttl_days)
        persisted: list[DataFrame] = []

        # 1. F3/J1 needs no step here: frontier ∩ seen = ∅, because every
        # frontier row entered it through step 7's seen check (or as a seed
        # of a fresh crawl, when seen is empty). The oracle keeps the check
        # as the reference; the golden tests pin the invariant.

        # 2. robots: TTL refetch for hosts in play (S4/S5/C9/K3)
        hosts = frontier.select("host").distinct()
        joined = hosts.join(robots_cache, "host", "left")
        stale = joined.where(
            F.col("robots_txt").isNull()
            | (F.col("fetched_ts") < F.lit(stale_before))
        ).select("host").persist()  # one row per stale host; reused by the
        persisted.append(stale)     # robots_delta semi-join at commit time
        refreshed = self.fetcher.fetch_robots(stale, ts)
        new_cache = (
            robots_cache.join(refreshed.select("host"), "host", "left_anti")
            .unionByName(refreshed)
            .persist()  # small (one row per host), reused twice below
        )
        persisted.append(new_cache)

        # 3. F5 — robots predicate (broadcast join on host + vectorized
        # matcher). Matches against the frontier row's STORED canonical path
        # (computed once at enqueue): re-deriving it here — parse_url or a
        # second percent-decode — diverges from the oracle on double-encoded
        # hrefs (%2520).
        with_rob = frontier.join(
            F.broadcast(new_cache.select("host", "robots_txt")), "host", "left"
        )
        allowed = with_rob.where(
            self.agent_allowed(
                F.coalesce("robots_txt", F.lit("")),
                F.coalesce("path", F.lit("/")),
            )
        ).select(*FRONTIER_COLS)

        # 4. F4 + wave cap — politeness top-k (salted) + global sequence
        scheduled, deferred = schedule_wave(
            allowed,
            cfg.host_tokens_per_wave,
            cfg.wave_cap,
            salt_buckets=cfg.salt_buckets,
            registry=persisted,
        )
        scheduled = scheduled.persist()
        deferred = deferred.persist()
        persisted.extend([scheduled, deferred])
        n_scheduled = scheduled.count()

        # frontier is a MERGE table: per-wave commit is O(changed rows), not
        # O(total frontier). Rows leaving this wave (robots-denied, scheduled)
        # become 'remove' deltas; deferred rows stay untouched on disk; new
        # children are 'add' deltas. At wave 0 nothing is persisted yet, so
        # the whole next frontier is the 'add' delta.
        def _frontier_delta(adds: DataFrame) -> DataFrame:
            add_rows = adds.select(*FRONTIER_COLS).withColumn(
                "_op", F.lit("add"))
            if wave == 0:
                return add_rows
            removes = (
                frontier.join(deferred.select("url"), "url", "left_anti")
                .select(
                    "url",
                    *[F.lit(None).cast(t).alias(c)
                      for c, t in _FRONTIER_NULLS],
                    F.lit("remove").alias("_op"),
                )
            )
            return add_rows.unionByName(removes)

        # delta from the PERSISTED cache (not the raw `refreshed` plan):
        # committing an unpersisted `refreshed` would re-execute
        # fetcher.fetch_robots — with HttpFetcher that double-fetches every
        # stale host's robots.txt per wave and (network being live) could
        # persist different rules than the ones that gated this wave
        robots_delta = (
            new_cache if wave == 0
            else new_cache.join(F.broadcast(stale), "host", "left_semi")
        ).withColumn("_op", F.lit("add"))

        if n_scheduled == 0:
            # every frontier row was robots-blocked: the
            # oracle pops those frontier rows and stops BEFORE counting the
            # wave or appending metrics (oracle.crawl) — commit only the
            # frontier/robots deltas so state matches, no metrics row.
            adds = deferred if wave == 0 else deferred.limit(0)
            manifest = self.state.commit_wave(wave, {
                "frontier": _frontier_delta(adds),
                "robots_cache": robots_delta,
            }, meta={"seen_filter": self._filter_params})
            for df in persisted:
                df.unpersist()
            manifest["n_scheduled"] = 0
            manifest["n_parsed"] = manifest["n_stored"] = 0
            return manifest

        trace = scheduled.select(
            F.lit(wave).alias("wave"),
            F.col("seq").cast("int").alias("seq"),
            "url", "host", "depth",
        )

        # 5. S3 — fetch through the seam: explicit host-hash repartition
        # defuses hot-host fan-in (and co-locates each host's URLs in one
        # task, so HttpFetcher's per-task connection pool reuses politely);
        # SimFetcher joins the synthetic web, HttpFetcher does batched HTTP.
        to_fetch = scheduled.repartition(F.xxhash64("host"))
        fetched = self.fetcher.fetch(to_fetch).withColumn(
            "ctype",
            F.lower(F.trim(F.split_part(F.col("content_type"), F.lit(";"), F.lit(1)))),
        ).persist()
        persisted.append(fetched)
        ok = fetched.where(
            F.col("status").isNotNull()
            & (F.col("status") <= cfg.http_error_threshold)
        )
        good = ok.where(F.col("ctype").isin(*cfg.allowed_content_types))

        # 6. C1-C6 — parse (one Arrow pass per batch)
        parsed = (
            good.withColumn(
                "base_url", F.regexp_extract("url", r"^(https?://[^/]+)", 1)
            )
            .withColumn(
                "doc",
                parse_doc_udf(
                    F.col("html"), F.col("base_url"), F.col("host"),
                    F.col("ctype"),
                ),
            )
            .select("url", "host", "depth", "priority", "seq", "base_url",
                    "doc", "fetch_latency_ms")
            .persist()
        )
        persisted.append(parsed)
        # materialize BEFORE the concurrent commit fan-out: racing writers
        # would otherwise each recompute the fetch join + parse UDF while
        # the cache is still being populated (measured 4x redundant parse
        # at 100k urls/wave). One pass here fills fetched+parsed caches.
        n_parsed = parsed.count()

        seen_delta = parsed.select("url", F.lit(wave).alias("first_wave"))
        # F8/K1 document-shape parity: the reference persists
        # (Url, ParentUrl, MetaData, Response, Timestamp) per page
        # (src/db/db.go:46-69); the engine keeps the extracted metadata in
        # pages_meta (the *payload* sink is the image store per the graft)
        pages_meta = parsed.select(
            "url",
            F.col("doc.title").alias("title"),
            F.col("doc.description").alias("description"),
            F.col("doc.site_name").alias("site_name"),
            F.col("doc.icon").alias("icon"),
            F.col("doc.content").alias("content"),  # InsertDocument.Content
            F.lit(wave).alias("wave"),               # parity (common.go:50)
        )

        # 7. F1/F2/F6/J4 — children: explode, canonicalize, filter, dedup
        kids = (
            parsed.where(F.col("depth") + 1 <= cfg.max_depth)
            .select(
                F.col("url").alias("parent_url"),
                (F.col("depth") + 1).alias("depth"),
                "seq", "base_url",
                F.posexplode("doc.child_urls").alias("pos", "href"),
            )
            .withColumn("_c", canonicalize_udf(F.col("href"), F.col("base_url")))
            .select(
                F.col("_c.url").alias("url"),
                "parent_url",
                F.col("_c.host").alias("host"),
                "depth",
                F.lit(0).alias("priority"),
                F.lit(wave + 1).alias("wave"),
                F.col("_c.scheme").alias("scheme"),
                F.col("_c.path").alias("path"),
                (F.col("_c.valid") == "1").alias("url_valid"),
                "seq", "pos",
            )
            .where(allow_predicate(cfg.allowed_schemes, cfg.blocked_paths))
        )
        # O(wave)-sized exclusions (this wave's new urls + deferred rows)
        # ride one anti-join with the children shuffle; the persisted seen
        # table is checked after the dedup (F3/J1, below)
        exclude_small = seen_delta.select("url").unionByName(
            deferred.select("url"))
        # J4 first-parent per child url = min by (seq, pos). groupBy +
        # min(struct) keeps map-side partial aggregation — a row_number
        # window would shuffle then SORT every duplicate occurrence; with
        # ~3 parents per url the map-side combine cuts the shuffle volume
        # ~3x, and the win grows with the web's in-degree at 10^10-URL
        # scale. (seq, pos) is unique per kid row (seq per parent page,
        # pos within it), so the struct min is total and deterministic —
        # identical first-parent semantics to the window it replaces.
        _kid_payload = [c for c in FRONTIER_COLS if c != "url"]
        new_children = (
            kids.groupBy("url")
            .agg(F.min(F.struct("seq", "pos", *_kid_payload)).alias("_s"))
            .select("url",
                    *[F.col(f"_s.{c}").alias(c) for c in _kid_payload])
            .join(exclude_small, "url", "left_anti")
        )
        # F3/J1 — children minus seen. The bloom prefilter routes
        # definitely-unseen children around the exact check (false
        # positives are re-checked, false negatives are impossible, so the
        # result is exact); only maybe-seen children take _unseen. Without
        # segments (wave 0 of a fresh crawl) every child takes it.
        if bloom_segments is None:
            new_children = self._unseen(new_children, "seen", "url",
                                        persisted)
        else:
            p = self._filter_params
            m, k, n_seg = int(p["m"]), int(p["k"]), int(p["segments"])
            # above the broadcast budget the cogroup path holds one
            # segment per task instead (docs/SCALE.md §3)
            probe = (bloom.bloom_anti_join
                     if n_seg * (m // 8) <= cfg.bloom_broadcast_max_bytes
                     else bloom.bloom_anti_join_cogroup)
            new_children = probe(
                new_children, None, bloom_segments, m=m, k=k,
                n_segments=n_seg, persisted=persisted,
                exact_join=lambda mb: self._unseen(mb, "seen", "url",
                                                   persisted))
        frontier_adds = (
            new_children if wave > 0
            else deferred.unionByName(new_children)
        )

        # 8. C10/K1 — images: explode, id-extract, dedup, decode+phash, MERGE
        imgs = (
            parsed.select(
                "seq",
                F.posexplode("doc.images").alias("pos", "img"),
            )
            .select(
                F.regexp_extract(F.col("img.src"), IMG_ID_PATTERN, 1).alias(
                    "image_id"
                ),
                F.col("img.caption").alias("html_caption"),
                "seq", "pos",
            )
            .where(F.col("image_id") != "")
        )
        # first caption per image_id = min by (seq, pos) — same
        # partial-agg-friendly groupBy+min(struct) as the children dedup
        img_first = (
            imgs.groupBy("image_id")
            .agg(F.min(F.struct("seq", "pos", "html_caption")).alias("_s"))
            .select("image_id",
                    F.col("_s.html_caption").alias("html_caption"))
        )
        # bounded store dedup BEFORE decode, against the key-only BUCKETED
        # store_keys table (never the stored payload): already-stored
        # images are not re-decoded, the store_keys side is partition-
        # pruned instead of shuffled, and compaction keeps its file count
        # bounded — wave cost is O(new keys), independent of store size.
        img_new = self._unseen(img_first, "store_keys", "image_id",
                               persisted)
        store_delta = (
            img_new.join(self.images, "image_id", "inner")
            .withColumn("ph", decode_phash_udf(F.col("bytes"), F.col("fmt")))
            .where(F.col("ph.ok"))
            .select(
                "image_id", "bytes", "w", "h", "fmt",
                F.coalesce("html_caption", "caption").alias("caption"),
                F.col("ph.phash").alias("phash"),
            )
        )
        store_delta = store_delta.persist()  # decode once: count + write
        persisted.append(store_delta)

        # 9. metrics (north_rule: fetch/parse/dedup metrics). Counts reuse
        # cached intermediates (fetched/parsed/store_delta are persisted);
        # deduped = corpus-valid image refs minus newly stored rows, matching
        # the oracle's per-occurrence accounting. The three remaining count
        # jobs are mutually independent once fetched/parsed are cached, so
        # they run CONCURRENTLY (guide §2.6: actions are only sequential
        # because the driver calls them sequentially) — the image decode
        # (store_delta) no longer serializes behind the metrics rollup.
        def _part_rows():
            return (
                fetched.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count("*").alias("scheduled"),
                    F.count(
                        F.when(F.col("status") <= cfg.http_error_threshold, 1)
                    ).alias("fetched"),
                    F.count(
                        F.when(
                            (F.col("status") <= cfg.http_error_threshold)
                            & F.col("ctype").isin(
                                *cfg.allowed_content_types),
                            1,
                        )
                    ).alias("parsed"),
                    F.sum(F.coalesce("fetch_latency_ms", F.lit(0)))
                    .alias("wall_ms"),
                    F.count(F.when(
                        F.col("status").isNull()
                        | (F.col("status") > cfg.http_error_threshold),
                        1)).alias("errors"),
                )
            ).collect()  # <= #partitions rows: bounded driver traffic

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as _pool:
            _f_stored = _pool.submit(store_delta.count)
            _f_parts = _pool.submit(_part_rows)
            _f_imgs = _pool.submit(
                imgs.join(self.images.select("image_id"), "image_id").count)
            n_stored = _f_stored.result()
            part_rows = _f_parts.result()
            n_img_refs = _f_imgs.result()
        n_fetched = sum(r["fetched"] for r in part_rows)
        n_errors = n_scheduled - n_fetched
        n_deduped = n_img_refs - n_stored
        # dedup/store are wave-global set ops, not attributable to a fetch
        # partition: null in per-partition rows, real values in the summary
        # row (partition_id = -1) — the oracle-comparable totals
        metrics = spark.createDataFrame(
            [(wave, r["partition_id"], r["scheduled"], r["fetched"],
              r["parsed"], None, None, r["errors"], r["wall_ms"])
             for r in part_rows]
            + [(wave, -1, n_scheduled, n_fetched, n_parsed, n_deduped,
                n_stored, n_errors, None)],
            schemas.METRICS,
        )

        # 10. wave-atomic commit (lineage manifest last)
        tables = {
            "trace": trace,
            "seen": seen_delta,
            "store": store_delta,
            "store_keys": store_delta.select("image_id"),
            "frontier": _frontier_delta(frontier_adds),
            "robots_cache": robots_delta,
            "metrics": metrics,
            "pages_meta": pages_meta,
        }
        # O(delta) commits extend to ZERO-size deltas: a table whose wave
        # delta is known empty from counts already on hand is omitted from
        # the commit entirely (readers union the manifest entries that
        # exist; on a steady 10^10-URL crawl the robots cache changes on
        # almost no wave, so this retires a full table write + Iceberg
        # MERGE per wave). The store still folds an omitted merge or
        # bucketed table at its compaction waves. Wave 0 always writes — it
        # establishes each table's schema on disk.
        if wave > 0:
            if n_stored == 0:
                del tables["store"], tables["store_keys"]
            if n_parsed == 0:
                del tables["seen"], tables["pages_meta"]
            if stale.isEmpty():  # persisted + already materialized: the
                # emptiness probe costs one first-partition task, the
                # skipped write costs a full (if empty) table job
                del tables["robots_cache"]
        # bloom is a full table: a new snapshot only when the filter
        # changes (first build, new seen URLs, or a saturation rebuild)
        m = int(self._filter_params["m"])
        if bloom_segments is None:
            tables["bloom"] = self._build_segments(seen_delta)
        elif (self.state.compacts(wave)
                and bloom.fill_fraction(bloom_segments, m)
                > cfg.filter_max_load):
            # saturation check (amortized like nb growth): a static filter
            # sized at crawl start goes useless as seen grows (fpr -> 1
            # routes everything to the exact check). Rebuild from the exact
            # seen set (the source of truth; segments are a cache) with
            # doubled m, and commit the grown parameters as state so probes
            # and resumes decode the new bytes correctly.
            self._filter_params = dict(self._filter_params, m=2 * m)
            urls = seen_delta.select("url")
            prior = self.state.read("seen")
            if prior is not None:
                urls = prior.select("url").unionByName(urls)
            tables["bloom"] = self._build_segments(urls)
        elif n_parsed > 0:
            tables["bloom"] = bloom.merge_segment_sets(
                bloom_segments, self._build_segments(seen_delta))
        manifest = self.state.commit_wave(
            wave, tables, meta={"seen_filter": self._filter_params})
        for df in persisted:
            df.unpersist()
        manifest["n_scheduled"] = n_scheduled
        manifest["n_parsed"] = n_parsed
        manifest["n_stored"] = n_stored
        return manifest

    # ----------------------------------------------------------- the loop

    def run(
        self,
        seeds: DataFrame,
        max_waves: int | None = None,
        resume: bool = False,
        on_wave=None,
    ) -> CrawlResult:
        """Crawl until the frontier drains or max_waves. `on_wave`, if
        given, is called after each committed wave as
        on_wave(wave, metrics_dict, wall_sec) — observability only (the
        growth bench records per-wave wall times through it)."""
        cfg, spark = self.cfg, self.spark
        max_waves = max_waves if max_waves is not None else cfg.max_waves

        if resume and hasattr(self.state, "recover"):
            # Iceberg backend: roll back orphan writes from a wave that
            # began but never committed, BEFORE reading any state
            self.state.recover()
        last = self.state.last_wave() if resume else None
        bloom_segments = None
        if last is not None:
            start = last + 1
            # an all-blocked wave commits only frontier/robots_cache, so
            # any other table can legitimately be absent on resume
            frontier = self.state.read("frontier")
            if frontier is None:
                frontier = spark.createDataFrame([], schemas.FRONTIER)
            robots_cache = self.state.read("robots_cache")
            if robots_cache is None:
                robots_cache = spark.createDataFrame([], schemas.ROBOTS)
            # persisted segment BYTES are only trusted under a bloom
            # record: they are then decoded with the committed parameters
            # (possibly grown past the cfg defaults by saturation). Any
            # other warehouse (no filter, or another filter family) gets
            # its segments rebuilt from the exact seen set — decoding
            # foreign bytes, or a filter missing the pre-resume seen URLs,
            # would declare seen children 'definitely new'. With nothing
            # seen yet there is nothing to rebuild: the wave then builds
            # the segments from its own seen delta, as wave 0 does.
            bloom_segments = self.state.read("bloom")
            recorded = self.state.read_meta().get("seen_filter") or {}
            if (bloom_segments is not None
                    and recorded.get("family") == "bloom"):
                self._filter_params = recorded
            else:
                seen = self.state.read("seen")
                bloom_segments = (None if seen is None
                                  else self._build_segments(seen))
        else:
            start = 0
            frontier = self._seed_frontier(seeds)
            robots_cache = (
                self.robots_cache_init
                if self.robots_cache_init is not None
                else spark.createDataFrame([], schemas.ROBOTS)
            )

        waves = start
        for wave in range(start, max_waves):
            if frontier.isEmpty():
                break
            _w0 = _time.time()
            m = self.run_wave(wave, frontier, robots_cache, bloom_segments)
            if m["n_scheduled"] == 0:
                # oracle parity: an all-blocked wave is not counted
                break
            if on_wave is not None:
                on_wave(wave, m, _time.time() - _w0)
            waves = wave + 1
            frontier = self.state.read("frontier")
            robots_cache = self.state.read("robots_cache")
            bloom_segments = self.state.read("bloom")
        return CrawlResult(waves=waves, state=self.state)


def build_engine(spark, web, warehouse: str, cfg: CrawlConfig = DEFAULT,
                 seed_robots_cache: bool = True):
    """Wire a CrawlEngine from a SynthWeb (tests / bench).

    Returns (engine, seeds_df). The oracle pre-seeds its robots cache with
    the fixture robots table (fresh/stale ts mix, FIXTURES.md §3); passing
    seed_robots_cache=True mirrors that.
    """
    from .synthgen import spark_tables

    seeds, pages, robots, images = spark_tables(spark, web)
    eng = CrawlEngine(
        spark, pages, robots, images, warehouse, cfg,
        robots_cache_init=robots if seed_robots_cache else None,
    )
    return eng, seeds
