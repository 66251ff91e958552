"""Seeded input generators for the crawl benchmark.

Every table is a pure function of (seed, size): the seed moves host
assignment, the seen subset, URL spelling variants and link targets, so
different seeds give different inputs of the same shape. Each generator
also returns the EXPECTED answers (canonical URLs, allowlist and robots
verdicts) computed from the generator's own construction, never by calling
the code under test, so the output checks stay independent of it.

Kept apart from the repository's own bench scripts on purpose: an edit
there cannot silently change a workload here.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

HOT_HOST = "hot.example"
N_HOSTS = 10_000    # frontier hosts besides the hot one
HOT_SHARE = 0.20    # share of frontier rows on HOT_HOST
SEEN_SHARE = 0.30   # share of valid frontier URLs already seen
ROBOTS_ALLOW = "User-agent: *\nAllow: /\n"
ROBOTS_PRIVATE = "User-agent: *\nDisallow: /private/\n"
CLOCK_ORIGIN_S = 1_700_000_000  # CrawlConfig.clock_origin_s default


def _h(seed: int, salt: int, *cols) -> F.Column:
    """Seeded 64-bit hash of `cols`: one independent stream per `salt`."""
    return F.xxhash64(*cols, F.lit(seed), F.lit(salt))


def _host_name(idx: F.Column) -> F.Column:
    return F.concat(F.lit("host-"), idx.cast("string"), F.lit(".example"))


def _robots_table(spark: SparkSession, seed: int, n_hosts: int,
                  extra_hosts: tuple[str, ...] = ()) -> DataFrame:
    """(host, robots_txt, fetched_ts, private_denied): ~20% of hosts
    disallow /private/, the rest allow everything. Fetched one day before
    the crawl clock origin, so nothing is stale at wave 0."""
    hosts = spark.range(n_hosts).select(_host_name(F.col("id")).alias("host"))
    if extra_hosts:
        hosts = hosts.unionByName(
            spark.createDataFrame([(h,) for h in extra_hosts], "host string"))
    denied = F.pmod(_h(seed, 5, F.col("host")), F.lit(10)) < 2
    fetched = dt.datetime.fromtimestamp(CLOCK_ORIGIN_S - 86_400,
                                        tz=dt.timezone.utc)
    return hosts.select(
        "host",
        F.when(denied, F.lit(ROBOTS_PRIVATE)).otherwise(F.lit(ROBOTS_ALLOW))
        .alias("robots_txt"),
        F.lit(fetched).alias("fetched_ts"),
        denied.alias("private_denied"),
    )


# ------------------------------------------------------------ frontier_1m

@dataclass
class FrontierInput:
    frontier: DataFrame   # what the pipeline sees: raw url + frontier cols
    expected: DataFrame   # per-row expected canonical form and verdicts
    seen: DataFrame       # (url) canonical URLs already crawled
    robots: DataFrame     # (host, robots_txt, fetched_ts, private_denied)


def frontier_input(spark: SparkSession, seed: int,
                   n_rows: int) -> FrontierInput:
    """A skewed synthetic frontier of `n_rows` URLs.

    ~HOT_SHARE of rows sit on one hot host, the rest spread over N_HOSTS
    hosts. URL spellings vary so canonicalization has real work:
    fragments, percent-encoded path segments and upper-case scheme/host
    (all canonicalize to the plain form), plus rows the allowlist must
    drop (ftp scheme, /robots.txt). ~SEEN_SHARE of the valid rows are
    already in the seen set.
    """
    ids = spark.range(n_rows)
    hot = F.pmod(_h(seed, 1, "id"), F.lit(1000)) < int(HOT_SHARE * 1000)
    host = F.when(hot, F.lit(HOT_HOST)).otherwise(
        _host_name(F.pmod(_h(seed, 2, "id"), F.lit(N_HOSTS))))
    kind = F.pmod(_h(seed, 3, "id"), F.lit(100))
    private = (kind >= 10) & (kind < 14)
    path = F.concat(F.when(private, F.lit("/private/p/"))
                    .otherwise(F.lit("/p/")), F.col("id").cast("string"))
    base = ids.select(
        "id", host.alias("host"), kind.alias("kind"), path.alias("path"),
        F.pmod(_h(seed, 4, "id"), F.lit(8)).cast("int").alias("depth"),
        (F.pmod(_h(seed, 6, "id"), F.lit(100)) < int(SEEN_SHARE * 100))
        .alias("is_seen"),
    )
    canon = F.concat(F.lit("http://"), F.col("host"), F.col("path"))
    k = F.col("kind")
    raw = (
        F.when(k < 4, F.concat(canon, F.lit("#frag")))
        .when(k < 8, F.concat(F.lit("http://"), F.col("host"),
                              F.lit("/%70/"), F.col("id").cast("string")))
        .when(k == 8, F.concat(F.lit("ftp://"), F.col("host"), F.col("path")))
        .when(k == 9, F.concat(F.lit("http://"), F.col("host"),
                               F.lit("/robots.txt")))
        .when(k >= 96, F.concat(F.lit("HTTP://"), F.upper(F.col("host")),
                                F.col("path")))
        .otherwise(canon)
    )
    expected = base.select(
        canon.alias("url"), "host", "path", "depth",
        ((k != 8) & (k != 9)).alias("allowed"),
        "is_seen",
    )
    frontier = base.select(
        raw.alias("url"),
        F.lit("").alias("parent_url"),
        "depth",
        F.lit(0).alias("priority"),
        F.lit(0).alias("wave"),
    )
    seen = expected.where(F.col("allowed") & F.col("is_seen")).select("url")
    robots = _robots_table(spark, seed, N_HOSTS, (HOT_HOST,))
    return FrontierInput(frontier, expected, seen, robots)


# ------------------------------------------------------------ crawl_bulk

@dataclass
class LayeredWeb:
    pages: DataFrame      # grawler.schemas.PAGES
    robots: DataFrame     # grawler.schemas.ROBOTS (+ private_denied)
    images: DataFrame     # grawler.schemas.IMAGES, crawled layers only
    seeds: DataFrame      # (url) layer-0 pages
    pixels: dict          # image_id -> original pixels (phash check)
    per_layer: int
    images_per_layer: int
    layers: int

    def layer_urls(self, layer: int) -> DataFrame:
        return self.pages.where(
            F.col("url").contains(f"/L{layer}/")).select("url")


def _pixels(seed: int, layer: int, j: int) -> np.ndarray:
    rng = np.random.default_rng([seed, layer, j])
    side = 8 + j % 9
    return rng.integers(0, 256, (side, side, 3), dtype=np.uint8)


def layered_web(spark: SparkSession, seed: int, per_layer: int,
                images_per_layer: int, layers: int,
                crawl_layers: int) -> LayeredWeb:
    """`layers` layers of `per_layer` HTML pages. Page (l, i) links to three
    layer-(l+1) pages at seeded offsets, so every page below layer 0 is
    found by exactly 3 parents, and the last layer links nowhere. Page
    (l, i) shows image i mod `images_per_layer` of its layer, so each
    image is referenced by several pages of a wave and every wave stores
    new ones; payloads are generated for the first `crawl_layers` layers.
    Hosts are seeded hashes over two hosts per page of a layer: with the
    default politeness budget (8 fetches per host per wave) no host
    overflows (~1e-4 expected overflows per 10k-page layer), so wave w
    crawls exactly layer w."""
    from grawler import codecs

    n_hosts = max(4096, 2 * per_layer)

    rng = np.random.default_rng(seed)
    offsets = rng.choice(per_layer, size=3, replace=False).tolist()
    ids = spark.range(per_layer * layers).select(
        "id",
        (F.col("id") / per_layer).cast("int").alias("layer"),
        F.pmod("id", per_layer).cast("int").alias("idx"),
    )

    def page_url(pid: F.Column, layer: F.Column, idx: F.Column) -> F.Column:
        # hash the LONG id: the child link and the page itself must agree
        return F.concat(F.lit("http://"),
                        _host_name(F.pmod(_h(seed, 1, pid.cast("long")),
                                          F.lit(n_hosts))),
                        F.lit("/L"), layer.cast("string"),
                        F.lit("/p/"), idx.cast("string"))

    def child_link(off: int) -> F.Column:
        cidx = F.pmod(F.col("idx") + off, F.lit(per_layer))
        cid = (F.col("layer") + 1) * per_layer + cidx
        href = page_url(cid, F.col("layer") + 1, cidx)
        return F.when(
            F.col("layer") < layers - 1,
            F.concat(F.lit('<a href="'), href, F.lit('">next</a>')),
        ).otherwise(F.lit(""))

    j = F.pmod("idx", F.lit(images_per_layer))
    img_id = F.format_string("img-%06d-%d", j, F.col("layer"))
    fmt = F.when(F.pmod(j, 2) == 0, F.lit("png")).otherwise(F.lit("rgb8"))
    html = F.concat(
        F.lit("<html><head><title>page "), F.col("id").cast("string"),
        F.lit("</title></head><body><p>layer "), F.col("layer").cast("string"),
        F.lit(" of a synthetic crawl benchmark web</p>"),
        child_link(offsets[0]), child_link(offsets[1]),
        child_link(offsets[2]),
        F.lit('<img src="/img/'), img_id, F.lit("."), fmt,
        F.lit('" alt="caption '), F.col("id").cast("string"),
        F.lit('"></body></html>'),
    )
    host_col = _host_name(F.pmod(_h(seed, 1, F.col("id")), F.lit(n_hosts)))
    pages = ids.select(
        page_url(F.col("id"), F.col("layer"), F.col("idx")).alias("url"),
        host_col.alias("host"),
        F.lit(200).cast("short").alias("status"),
        F.lit("text/html").alias("content_type"),
        F.lit(10).alias("fetch_latency_ms"),
        html.alias("html"),
        F.array().cast("array<string>").alias("child_urls"),
        F.array().cast("array<string>").alias("image_ids"),
    )

    rows, pixels = [], {}
    for layer in range(crawl_layers):
        for k in range(images_per_layer):
            image_id = f"img-{k:06d}-{layer}"
            px = _pixels(seed, layer, k)
            f = "png" if k % 2 == 0 else "rgb8"
            pixels[image_id] = px
            rows.append((image_id, codecs.encode(px, f), px.shape[1],
                         px.shape[0], f, f"caption {layer}-{k}"))
    images = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt",
                                    "caption"]),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string")
    robots = _robots_table(spark, seed, n_hosts)
    seeds = pages.where(F.col("url").contains("/L0/")).select("url")
    return LayeredWeb(pages, robots, images, seeds, pixels, per_layer,
                      images_per_layer, layers)
