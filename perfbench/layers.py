"""Per-layer probes for the traced run: call each layer's public function
on the workload's own generated input, force it with a `noop` write, and
time it inside a span. Counts are taken on the forced (cached) output, so
the ratios are measured where the work happens.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from grawler import bloom
from grawler.engine import decode_phash_udf, parse_doc_udf
from grawler.exactcheck import bucketed_anti_join
from grawler.urlnorm import with_canonical

from . import frontier as fp
from .harness import noop

# every per-layer metric a traced run reports; layers that a workload does
# not exercise report 0 work
PER_LAYER = {
    "engine.jobs_per_wave": "count",
    "engine.stages_per_wave": "count",
    "engine.tasks_per_wave": "count",
    "engine.driver_only_s_per_wave": "s",
    "engine.executor_cpu_s_per_url": "s/URL",
    "engine.shuffle_bytes_per_url": "B/URL",
    "engine.scaling_eff_1_to_n": "ratio",
    "store.commit_s": "s",
    "store.commit_share": "ratio",
    "store.files_per_commit": "count",
    "store.compaction_commit_s": "s",
    "store.entries_per_read": "count",
    "store.read_s": "s",
    "store.bytes_written_per_url": "B/URL",
    "urlnorm.canon_s": "s",
    "urlnorm.urls_per_s": "URLs/s",
    "urlnorm.valid_share": "ratio",
    "bloom.build_s": "s",
    "bloom.probe_s": "s",
    "bloom.fill": "ratio",
    "bloom.maybe_share": "ratio",
    "bloom.false_positive_share": "ratio",
    "exactcheck.probe_s": "s",
    "exactcheck.rows_probed": "count",
    "exactcheck.bucket_read_share": "ratio",
    "robots.check_s": "s",
    "robots.denied_share": "ratio",
    "scheduler.schedule_s": "s",
    "scheduler.deferred_share": "ratio",
    "scheduler.max_task_rows_share": "ratio",
    "htmlparse.pages_per_s": "pages/s",
    "htmlparse.s": "s",
    "codecs.images_per_s": "images/s",
    "codecs.decode_fail_share": "ratio",
    "fetch.rows": "count",
    "fetch.error_share": "ratio",
    "trace.overhead_s": "s",
    "trace.evicted_stages": "count",
}


def share(num: float, den: float) -> float:
    return num / den if den else 0.0


def _forced(df: DataFrame) -> tuple[DataFrame, float]:
    """Persist + noop-write: -> (cached df, seconds)."""
    t0 = time.perf_counter()
    df = df.persist()
    noop(df)
    return df, time.perf_counter() - t0


def probe_schedule_path(tracer, status, raw: DataFrame, st, robots, cfg,
                        base_col: str | None = None,
                        dedup: bool = False) -> dict:
    """urlnorm -> bloom -> exactcheck -> robots -> scheduler, one forced
    step at a time. `raw` has frontier columns with a raw `url`."""
    out: dict = {}
    keep: list = []
    with tracer.span("urlnorm.with_canonical"):
        canon, out["urlnorm.canon_s"] = _forced(
            with_canonical(raw, "url", base_col))
    keep.append(canon)
    n_raw = canon.count()
    out["urlnorm.urls_per_s"] = share(n_raw, out["urlnorm.canon_s"])
    out["urlnorm.valid_share"] = share(
        canon.where("url_valid").count(), n_raw)
    cand = fp.canonical_candidates(canon, cfg)
    if dedup:
        cand = cand.dropDuplicates(["url"])
    cand = cand.persist()
    keep.append(cand)
    n_cand = cand.count()

    with tracer.span("bloom.build_segments"):
        segs, out["bloom.build_s"] = _forced(bloom.build_segments(
            st.seen, n_segments=cfg.bloom_segments, m=cfg.bloom_m,
            k=cfg.bloom_num_hashes))
    keep.append(segs)
    out["bloom.fill"] = bloom.fill_fraction(st.segments, cfg.bloom_m)

    # the exact join is captured, not run, so the probe is timed alone
    captured: dict = {}

    def capture(maybe):
        captured["maybe"] = maybe
        return maybe.limit(0)

    registry: list = []
    new_only = bloom.bloom_anti_join(
        cand, st.seen, st.segments, m=cfg.bloom_m, k=cfg.bloom_num_hashes,
        n_segments=cfg.bloom_segments, exact_join=capture,
        persisted=registry)
    with tracer.span("bloom.probe"):
        _flagged, out["bloom.probe_s"] = _forced(registry[0])
    maybe = captured["maybe"].persist()
    keep.append(maybe)
    n_maybe = maybe.count()
    out["bloom.maybe_share"] = share(n_maybe, n_cand)

    with tracer.span("exactcheck.bucketed_anti_join"):
        checked, out["exactcheck.probe_s"] = _forced(bucketed_anti_join(
            maybe, st.bucketed, st.nb, "url",
            cfg.seen_probe_broadcast_rows, registry))
    keep.append(checked)
    n_not_seen = checked.count()
    out["exactcheck.rows_probed"] = float(n_maybe)
    buckets = maybe.select(
        F.pmod(F.xxhash64("url"), F.lit(st.nb))).distinct().count()
    out["exactcheck.bucket_read_share"] = share(buckets, st.nb)
    out["bloom.false_positive_share"] = share(n_not_seen, n_maybe)

    unseen = new_only.unionByName(checked)
    with tracer.span("robots.predicate"):
        allowed, out["robots.check_s"] = _forced(
            fp.robots_allowed(unseen, robots, cfg))
    keep.append(allowed)
    n_unseen = unseen.count()
    out["robots.denied_share"] = share(n_unseen - allowed.count(), n_unseen)

    status.settle()
    t0 = time.time()
    with tracer.span("scheduler.schedule_wave") as s:
        sched, deferred = fp.schedule(allowed, cfg, registry)
        sched, deferred = sched.persist(), deferred.persist()
        keep += [sched, deferred]
        n_s, n_d = sched.count(), deferred.count()
    out["scheduler.schedule_s"] = s.seconds
    out["scheduler.deferred_share"] = share(n_d, n_s + n_d)
    status.settle()
    # skew where the rows are: the stage reading the most shuffled rows
    # (the per-host window over the whole candidate set)
    win = status.window(t0, time.time())
    biggest = max(win["ran"], key=lambda a: a["shuffle_read_records"],
                  default=None)
    top = (status.max_task_share(biggest["stage"], biggest["attempt"])
           if biggest and biggest["shuffle_read_records"] else None)
    out["scheduler.max_task_rows_share"] = top or 0.0
    fp.release(registry + keep)
    return out


def probe_parse(tracer, pages: DataFrame) -> tuple[dict, DataFrame]:
    """parse_doc_udf over the pages' HTML -> (figures, cached parse)."""
    docs = pages.select(
        "url", "host", "html",
        F.regexp_extract("url", r"^(https?://[^/]+)", 1).alias("base_url"),
        F.lit("text/html").alias("ctype"))
    with tracer.span("htmlparse.parse_doc_udf"):
        parsed, secs = _forced(docs.withColumn("doc", parse_doc_udf(
            F.col("html"), F.col("base_url"), F.col("host"), F.col("ctype"))))
    n = parsed.count()
    return ({"htmlparse.s": secs, "htmlparse.pages_per_s": share(n, secs)},
            parsed)


def probe_codecs(tracer, images: DataFrame) -> dict:
    """decode_phash_udf over the image payloads."""
    with tracer.span("codecs.decode_phash_udf"):
        dec, secs = _forced(images.withColumn(
            "ph", decode_phash_udf(F.col("bytes"), F.col("fmt"))))
    n = dec.count()
    failed = dec.where(~F.col("ph.ok")).count()
    dec.unpersist()
    return {"codecs.images_per_s": share(n, secs),
            "codecs.decode_fail_share": share(failed, n)}


def zero_metrics() -> dict:
    return {k: 0.0 for k in PER_LAYER}
