"""Pure-Python single-threaded oracle for the crawl engine.

The reference (fou3fou3/Grawler) has zero tests and its runtime ordering is
racy (20 goroutines + check-then-act on the seen map,
/root/reference/src/crawler.go:96-103,190-202). Per SURVEY.md §5.2 the oracle
embodies the *intended* deterministic semantics — the crawlDocument pipeline
(/root/reference/src/crawler.go:116-188) with the politeness bug fixed
(src/crawler.go:195: Set never called + inverted comparison) — as a
wave-synchronous (BSP) crawl:

Per wave:
  1. frontier rows minus seen                                (F3/J1)
  2. robots per host, TTL-refetch from truth, filter         (S4/S5/F5/C9/K3)
  3. per-host politeness top-k by (depth, priority, url);
     overflow defers to next wave                            (F4, §2.5)
  4. global wave cap by (depth, priority, host, url)         (queue capacity)
  5. fetch-sim join vs pages; status>399 or missing -> drop,
     NOT marked seen (retryable, matches reference short-circuit)  (S3)
  6. content-type filter text/html|text/plain                (F7)
  7. parse html -> children + images + metadata              (C1-C6)
  8. mark seen; canonicalize+filter children at enqueue      (F1/F2/F6, A2)
  9. store images by image_id (idempotent upsert)            (C10, K1)

The engine's wave loop (grawler.engine) implements the same contract with
DataFrames; tests compare trace / seen / store / frontier byte-for-byte.
The engine omits step 1: step 8 checks every child against seen at
enqueue, so the frontier never holds a seen URL; the oracle keeps step 1
as the reference.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass, field

from . import codecs
from .conf import CrawlConfig, DEFAULT
from .htmlparse import parse_html
from .robots import agent_allowed_one
from .urlnorm import canonicalize_one

_IMG_SRC_RE = re.compile(r"/img/(img-\d{6}-\d+)\.")


def image_id_from_src(src: str | None) -> str | None:
    if not src:
        return None
    m = _IMG_SRC_RE.search(src)
    return m.group(1) if m else None


@dataclass
class OracleResult:
    trace: list = field(default_factory=list)   # (wave, seq, url, host, depth)
    seen: dict = field(default_factory=dict)    # url -> first_wave
    store: dict = field(default_factory=dict)   # image_id -> row dict
    pages_meta: dict = field(default_factory=dict)  # url -> metadata dict
    frontier: list = field(default_factory=list)
    waves: int = 0
    metrics: list = field(default_factory=list)
    robots_cache: dict = field(default_factory=dict)  # host -> (txt, ts)


def wave_ts(cfg: CrawlConfig, wave: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(
        cfg.clock_origin_s + wave * cfg.wave_duration_ms / 1000.0,
        tz=dt.timezone.utc,
    )


def _allow(scheme, host, path, valid, cfg: CrawlConfig) -> bool:
    return (
        valid == "1"
        and scheme in cfg.allowed_schemes
        and path not in cfg.blocked_paths
    )


def crawl(web, cfg: CrawlConfig = DEFAULT, max_waves: int | None = None,
          seeds: list[str] | None = None) -> OracleResult:
    """Run the full deterministic crawl over a SynthWeb."""
    max_waves = max_waves if max_waves is not None else cfg.max_waves
    pages = {r["url"]: r for r in web.pages.to_dict("records")}
    robots_truth = {
        r["host"]: r["robots_txt"] for r in web.robots.to_dict("records")
    }
    images = {r["image_id"]: r for r in web.images.to_dict("records")}
    seed_urls = seeds if seeds is not None else list(web.seeds["url"])

    res = OracleResult()
    robots_cache: dict = {}  # host -> (txt, fetched_ts)
    for r in web.robots.to_dict("records"):
        robots_cache[r["host"]] = (r["robots_txt"], r["fetched_ts"])

    # enqueue seeds (canonicalize + allowlist at enqueue, like children)
    frontier: dict = {}  # url -> row
    for u in seed_urls:
        canon, scheme, host, path, valid = canonicalize_one(u)
        if _allow(scheme, host, path, valid, cfg) and canon not in frontier:
            frontier[canon] = {
                "url": canon, "parent_url": "", "host": host,
                "depth": 0, "priority": 0, "wave": 0, "path": path,
            }

    for wave in range(max_waves):
        if not frontier:
            break
        ts = wave_ts(cfg, wave)
        stale_before = ts - dt.timedelta(days=cfg.robots_ttl_days)

        # 1. anti-join seen
        candidates = [r for u, r in frontier.items() if u not in res.seen]
        frontier = {r["url"]: r for r in candidates}
        if not candidates:
            break

        # 2. robots: TTL refetch for hosts in play, then filter
        hosts_in_play = {r["host"] for r in candidates}
        for h in sorted(hosts_in_play):
            cached = robots_cache.get(h)
            if cached is None or cached[1] < stale_before:
                robots_cache[h] = (robots_truth.get(h, ""), ts)
        allowed = []
        for r in candidates:
            txt = robots_cache.get(r["host"], ("", ts))[0]
            # the frontier row's STORED canonical path (same as the engine):
            # re-canonicalizing would percent-decode a second time and flip
            # verdicts on double-encoded hrefs
            path = r["path"] or "/"
            if agent_allowed_one(txt, path, cfg.user_agent):
                allowed.append(r)
            else:
                frontier.pop(r["url"], None)  # dropped permanently

        # 3. politeness top-k per host
        allowed.sort(key=lambda r: (r["depth"], r["priority"], r["url"]))
        taken_per_host: dict = {}
        polite = []
        for r in allowed:
            k = taken_per_host.get(r["host"], 0)
            if k < cfg.host_tokens_per_wave:
                taken_per_host[r["host"]] = k + 1
                polite.append(r)
            # else: stays in frontier (deferred)

        # 4. wave cap
        polite.sort(key=lambda r: (r["depth"], r["priority"], r["host"], r["url"]))
        scheduled = polite[: cfg.wave_cap]
        for seq, r in enumerate(scheduled):
            res.trace.append((wave, seq, r["url"], r["host"], r["depth"]))
            frontier.pop(r["url"], None)  # leaves frontier once scheduled
        if not scheduled:
            break

        # fetch + parse (BSP: children/images are batched, then filtered
        # against the END-of-wave seen set — matching the engine's set ops)
        fetched = parsed = stored = errors = 0
        parsed_docs = []  # (frontier_row, doc) in schedule order
        for r in scheduled:
            page = pages.get(r["url"])
            if page is None or page["status"] > cfg.http_error_threshold:
                errors += 1
                continue  # not seen -> retryable
            fetched += 1
            ctype = page["content_type"].lower().split(";")[0].strip()
            if ctype not in cfg.allowed_content_types:
                continue  # not seen, like reference short-circuit
            _, scheme, host, path, valid = canonicalize_one(r["url"])
            base_url = f"{scheme}://{host}"
            if ctype == "text/html":
                doc = parse_html(page["html"], base_url, host)
            else:
                from .htmlparse import normalize_text

                content = normalize_text(page["html"])
                doc = {"child_urls": [], "images": [],
                       "title": content[:60] or None,
                       "description": content[:160] or None,
                       "site_name": host, "icon": None,
                       "content": content}
            parsed += 1
            res.seen[r["url"]] = wave
            res.pages_meta[r["url"]] = {
                "title": doc["title"], "description": doc["description"],
                "site_name": doc["site_name"], "icon": doc["icon"],
                "content": doc["content"],   # InsertDocument.Content parity
                "wave": wave,
            }
            parsed_docs.append((r, base_url, doc))

        new_children: dict = {}
        for r, base_url, doc in parsed_docs:  # schedule order = dedup order
            if r["depth"] + 1 > cfg.max_depth:
                continue
            for href in doc["child_urls"]:
                c, cs, ch, cp, cv = canonicalize_one(href, base_url)
                if not _allow(cs, ch, cp, cv, cfg):
                    continue
                if c in res.seen or c in frontier or c in new_children:
                    continue
                new_children[c] = {
                    "url": c, "parent_url": r["url"], "host": ch,
                    "depth": r["depth"] + 1, "priority": 0,
                    "wave": wave + 1, "path": cp,
                }

        img_refs = 0  # corpus-valid image references (incl. duplicates)
        for r, base_url, doc in parsed_docs:
            for img in doc["images"]:
                image_id = image_id_from_src(img["src"])
                if image_id is None or image_id not in images:
                    continue
                img_refs += 1
                corpus = images[image_id]
                if image_id not in res.store:
                    px = codecs.decode(bytes(corpus["bytes"]), corpus["fmt"])
                    res.store[image_id] = {
                        "image_id": image_id,
                        "bytes": bytes(corpus["bytes"]),
                        "w": int(corpus["w"]),
                        "h": int(corpus["h"]),
                        "fmt": corpus["fmt"],
                        "caption": img["caption"] or corpus["caption"],
                        "phash": codecs.phash64(px),
                    }
                    stored += 1

        frontier.update(new_children)
        res.metrics.append(
            {
                "wave": wave, "scheduled": len(scheduled), "fetched": fetched,
                "parsed": parsed, "deduped": img_refs - stored,
                "stored": stored, "errors": errors,
            }
        )
        res.waves = wave + 1

    res.frontier = sorted(frontier.values(), key=lambda r: r["url"])
    res.robots_cache = dict(robots_cache)  # K3: final persisted cache state
    return res
