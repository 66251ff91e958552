"""Crawl configuration. Every reference constant is a parameter here.

Citations into /root/reference (behavioral source only, no code copied):
  user_agent 'grawler'          src/crawler.go:24
  worker parallelism 20         src/crawler.go:96-98   -> Spark task parallelism
  frontier capacity 100_000     src/crawler.go:42      -> per-wave top-k cap
  politeness budget 700 ms      src/crawler.go:195     (latent no-op in the
      reference: hostLastCrawledMap.Set never called and the comparison is
      inverted; we implement the *intended* semantics: >=700ms between fetches
      of the same host)
  HTTP timeout 10 s             src/utils/utils.go:24
  HTTP error threshold >399     src/utils/utils.go:40-42
  robots TTL 1 month 15 days    src/crawler.go:230     (~45 days)
  allowed content types         src/crawler.go:275     text/html, text/plain
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    user_agent: str = "grawler"
    wave_cap: int = 100_000              # frontier queue capacity analogue
    politeness_budget_ms: int = 700      # min gap between fetches of one host
    wave_duration_ms: int = 5_600        # modeled wall-clock of one wave ->
    #   host tokens per wave = wave_duration_ms // politeness_budget_ms = 8
    robots_ttl_days: int = 45
    http_timeout_s: int = 10
    http_error_threshold: int = 399      # status > 399 -> fetch failed
    allowed_content_types: tuple[str, ...] = ("text/html", "text/plain")
    allowed_schemes: tuple[str, ...] = ("http", "https")
    blocked_paths: tuple[str, ...] = ("/robots.txt",)
    max_waves: int = 50
    max_depth: int = 64
    # skew handling: politeness top-k is salted over this many buckets
    salt_buckets: int = 16
    # bloom seen-prefilter over new children (routes definitely-unseen
    # rows around the exact check; exactness preserved by that check on
    # maybe-seen rows)
    bloom_segments: int = 64
    bloom_m: int = 1 << 17               # bits per segment; size up at scale
    bloom_num_hashes: int = 4
    # above this total filter size the probe switches from the broadcast
    # path to the cogroup path (no driver collect; docs/SCALE.md §3)
    bloom_broadcast_max_bytes: int = 64 << 20
    # bloom saturation threshold: at compaction waves the engine measures
    # the max per-segment bit-fill and rebuilds from the exact seen set
    # with doubled m above this — a statically-sized filter is useless
    # once the crawl outgrows it
    filter_max_load: float = 0.5
    # exact checks against the bucketed seen/store_keys tables broadcast
    # the probe keys (zero-shuffle path) up to this many rows, then degrade
    # to a shuffle join against the partition-pruned subset (exactcheck.py)
    seen_probe_broadcast_rows: int = 1 << 20
    # deterministic wave clock origin (epoch seconds); frozen per wave
    clock_origin_s: int = 1_700_000_000

    @property
    def host_tokens_per_wave(self) -> int:
        return max(1, self.wave_duration_ms // self.politeness_budget_ms)


DEFAULT = CrawlConfig()
