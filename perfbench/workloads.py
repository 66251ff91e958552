"""The benchmark workloads. Each runs closed-loop (one pass or crawl at a
time) in a fresh driver process, returns its metrics and counts every
operation it attempted and every one that failed its output check.

frontier_1m  the per-row scheduling path over a 1M-row skewed frontier;
             the traced run adds its 1 -> N core scaling efficiency.
crawl_bulk   one engine wave over the seed layer of a layered web into an
             empty warehouse; the traced run then resumes with a new
             CrawlEngine for two more waves, the second a compaction.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyspark.sql.functions as F

from grawler import codecs
from grawler.conf import CrawlConfig
from grawler.engine import CrawlEngine
from grawler.store import LocalSnapshotStore

from . import frontier as fp
from . import gen, layers
from .harness import ROOT, Workdir, cores, dir_bytes, summary
from .trace import SparkStatus, StoreProxy, Tracer

SIZES = {
    "full": {"frontier_rows": 1_000_000, "warm_div": 200, "scaling_div": 8,
             "per_layer": 10_000, "images_per_layer": 1000, "warm_rows": 10},
    "smoke": {"frontier_rows": 20_000, "warm_div": 10, "scaling_div": 4,
              "per_layer": 40, "images_per_layer": 8, "warm_rows": 20},
}


@dataclass
class Ctx:
    spark: object
    work: Workdir
    seed: int
    seconds: float
    session_s: float
    size: dict
    traced: bool = False
    tracer: Tracer | None = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)       # name -> value
    report: dict = field(default_factory=dict)    # every figure, by name
    per_layer: dict = field(default_factory=dict)

    def op(self, errors: list[str], what: str) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors += [f"{what}: {e}" for e in errors]


def _checked(out: Outcome, what: str, fn):
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:
        out.op([traceback.format_exc(limit=3)], what)
        return None


# ------------------------------------------------------------ frontier_1m

def _frontier_inputs(spark, seed: int, n: int, path: str,
                     write: bool = True):
    """Generated inputs. The frontier is written to parquet at `path` (in
    set-up; `write=False` reuses a file written before) and read back, as
    the engine reads its frontier from the store, so a timed pass does no
    generator work."""
    inp = gen.frontier_input(spark, seed, n)
    if write:
        inp.frontier.write.parquet(path)
    inp.frontier = spark.read.parquet(path)
    inp.robots = inp.robots.persist()
    inp.robots.count()
    return inp


def _laps():
    """-> lap(): seconds since the previous lap() (or since creation)."""
    last = [time.perf_counter()]

    def lap() -> float:
        now = time.perf_counter()
        dt, last[0] = now - last[0], now
        return dt
    return lap


def frontier_1m(ctx: Ctx) -> Outcome:
    out = Outcome()
    cfg = CrawlConfig()
    spark, n = ctx.spark, ctx.size["frontier_rows"]
    lap, setup = _laps(), {"session_s": ctx.session_s}
    inp = _frontier_inputs(spark, ctx.seed, n, ctx.work.sub("frontier"))
    setup["generate_s"] = lap()
    wh = ctx.work.sub("frontier_state")
    store = LocalSnapshotStore(spark, wh)
    if ctx.traced:
        store = StoreProxy(store, ctx.tracer)
    fp.commit_seen(store, inp.seen, cfg)
    st = fp.read_seen(store)
    n_seen = st.seen.count()
    setup["commit_seen_s"] = lap()
    ref = fp.reference(inp.expected, st.seen, inp.robots, cfg)
    setup["reference_s"] = lap()
    # warm-up (python workers, codegen) on a slice: set-up, not measured;
    # it still counts as a failed operation if it raises
    warm = _frontier_inputs(spark, ctx.seed, n // ctx.size["warm_div"],
                            ctx.work.sub("frontier_warm"))
    _checked(out, "warm-up pass", lambda: fp.release(
        fp.run_pass(warm.frontier, st, inp.robots, cfg)[3]))
    setup["warm_up_s"] = lap()

    walls: list[float] = []
    if ctx.traced:
        status = SparkStatus(spark)
        walls.append(_frontier_traced(ctx, out, status, inp, st, ref, cfg,
                                      n))
    else:
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < ctx.seconds:
            w = _checked(out, "frontier pass",
                         lambda: _checked_pass(out, inp.frontier, st,
                                               inp.robots, ref, cfg))
            if w is None:
                break
            walls.append(w)

    wall = summary(walls)
    out.e2e = {
        "setup_s": sum(setup.values()),
        "urls_per_s": n / wall["p50"] if walls else 0.0,
        "state_bytes_per_url": dir_bytes(wh) / max(1, n_seen),
    }
    out.report.update({
        "frontier_rows": n, "seen_rows": n_seen, "setup": setup,
        "frontier_wall_s": wall,
        "frontier_urls_per_s": out.e2e["urls_per_s"],
    })
    if ctx.traced:
        # the layer probes and the scaling passes run on a slice: the
        # full-size pass above already gives the engine-level counts
        n_sub = n // ctx.size["scaling_div"]
        sub = _frontier_inputs(ctx.spark, ctx.seed, n_sub,
                               ctx.work.sub("frontier_sub"))
        out.per_layer.update(layers.probe_schedule_path(
            ctx.tracer, status, sub.frontier, st, inp.robots, cfg))
        _frontier_scaling(ctx, out, st, sub, wh, cfg, n_sub)
        out.per_layer["trace.overhead_s"] = ctx.tracer.self_s
        out.per_layer["trace.evicted_stages"] = (status.evicted_stages
                                                 + status.evicted_jobs)
    return out


def _checked_pass(out, frontier, st, robots, ref, cfg) -> float:
    wall, sched, deferred, reg = fp.run_pass(frontier, st, robots, cfg)
    out.op(fp.check_pass(sched, deferred, ref, cfg), "frontier pass")
    fp.release(reg)
    return wall


def _frontier_scaling(ctx, out, st, sub, wh, cfg, n_sub) -> None:
    """Scaling efficiency of the pass on an `n_sub`-row slice: its rate at
    local[N] in this process against N x its rate at local[1], measured by
    a separate driver process on the same committed seen state."""
    n_cores = cores()
    ref = fp.reference(sub.expected, st.seen, sub.robots, cfg)
    wall_n = _checked(out, "scaling pass", lambda: _checked_pass(
        out, sub.frontier, st, sub.robots, ref, cfg))
    spec = {"rows": n_sub, "state": wh,
            "frontier": ctx.work.sub("frontier_sub"),
            "ref": [ref.scheduled, ref.deferred]}
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", "frontier_1m", "--seed", str(ctx.seed),
           "--seconds", "0", "--scaling-child", json.dumps(spec)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    try:
        child = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        child = {"wall": None, "errors": [proc.stderr[-2000:]]}
    out.op(child["errors"], "scaling pass local[1]")
    wall_1 = child["wall"]
    rate_n = n_sub / wall_n if wall_n else 0.0
    rate_1 = n_sub / wall_1 if wall_1 else 0.0
    eff = rate_n / (n_cores * rate_1) if rate_1 else 0.0
    out.per_layer["engine.scaling_eff_1_to_n"] = eff
    out.report.update({
        "scaling_rows": n_sub,
        f"scaling_rate_local{n_cores}_urls_per_s": rate_n,
        "scaling_rate_local1_urls_per_s": rate_1,
        f"scaling_eff_1_to_{n_cores}": eff,
    })


def scaling_child(ctx: Ctx, spec: dict) -> dict:
    """The local[1] side of _frontier_scaling (runs in its own process)."""
    cfg = CrawlConfig()
    st = fp.read_seen(LocalSnapshotStore(ctx.spark, spec["state"]))
    sub = _frontier_inputs(ctx.spark, ctx.seed, spec["rows"],
                           spec["frontier"], write=False)
    warm = _frontier_inputs(ctx.spark, ctx.seed, spec["rows"] // 20,
                            ctx.work.sub("frontier_warm"))
    fp.release(fp.run_pass(warm.frontier, st, sub.robots, cfg)[3])
    wall, sched, deferred, reg = fp.run_pass(sub.frontier, st, sub.robots,
                                             cfg)
    ref = fp.Reference(*(tuple(x) for x in spec["ref"]))
    errors = fp.check_pass(sched, deferred, ref, cfg)
    fp.release(reg)
    return {"wall": wall, "errors": errors}


def _frontier_traced(ctx, out, status, inp, st, ref, cfg, n) -> float:
    """The measured pass of a traced frontier_1m run, attributed through
    Spark's status store; fills the engine and store figures."""
    tracer = ctx.tracer
    pl = layers.zero_metrics()
    status.settle()
    t0 = time.time()
    with tracer.span("pass") as s:
        wall, sched, deferred, reg = fp.run_pass(inp.frontier, st,
                                                 inp.robots, cfg)
    out.op(fp.check_pass(sched, deferred, ref, cfg), "traced pass")
    fp.release(reg)
    status.settle()
    t_scrape = time.time()
    win = status.window(t0, s.end)
    tracer.self_s += time.time() - t_scrape
    tracer.spans[-1]["attrs"].update(
        {k: v for k, v in win.items() if k != "ran"})
    pl.update({
        "engine.jobs_per_wave": win["jobs"],
        "engine.stages_per_wave": win["stages"],
        "engine.tasks_per_wave": win["tasks"],
        "engine.driver_only_s_per_wave": win["driver_only_s"],
        "engine.executor_cpu_s_per_url": win["cpu_s"] / n,
        "engine.shuffle_bytes_per_url": win["shuffle_bytes"] / n,
    })
    _store_figures(tracer, pl, n_urls=st.seen.count(), wave_walls=None)
    out.per_layer = pl
    return wall


def _store_figures(tracer, pl: dict, n_urls: int, wave_walls) -> None:
    """store.* from the proxy's spans. `wave_walls` maps wave -> wall for
    the crawl (None for frontier_1m, whose only commit is set-up)."""
    commits = [s for s in tracer.spans if s["name"] == "store.commit_wave"]
    reads = [s for s in tracer.spans if s["name"].startswith("store.read")
             or s["name"] in ("store.last_wave", "store.read_meta")]
    plain = [c for c in commits if not c["attrs"]["compaction"]]
    compact = [c for c in commits if c["attrs"]["compaction"]]
    dur = [c["end"] - c["start"] for c in plain]
    pl["store.commit_s"] = statistics.median(dur) if dur else 0.0
    if wave_walls:
        shares = [(c["end"] - c["start"]) / wave_walls[c["attrs"]["wave"]]
                  for c in plain if c["attrs"]["wave"] in wave_walls]
        pl["store.commit_share"] = statistics.median(shares) if shares \
            else 0.0
    files = [c["attrs"]["files"] for c in plain]
    pl["store.files_per_commit"] = statistics.median(files) if files else 0
    pl["store.compaction_commit_s"] = (
        statistics.median(c["end"] - c["start"] for c in compact)
        if compact else 0.0)
    ent = [r["attrs"]["entries"] for r in reads if "entries" in r["attrs"]]
    pl["store.entries_per_read"] = statistics.mean(ent) if ent else 0.0
    per = len(wave_walls) if wave_walls else 1
    pl["store.read_s"] = sum(r["end"] - r["start"] for r in reads) / per
    pl["store.bytes_written_per_url"] = (
        sum(c["attrs"]["bytes"] for c in commits) / max(1, n_urls))


# ------------------------------------------------------------ crawl_bulk

TIMED_WAVES = 1   # one fresh wave over every seed
TRACED_WAVES = 3  # ... then a new engine resumes for waves 1 and 2, the
#                   second of which compacts the state log
COMPACT_EVERY = 2
LAYERS = 4


def crawl_bulk(ctx: Ctx) -> Outcome:
    out = Outcome()
    cfg = CrawlConfig()
    spark, per_layer = ctx.spark, ctx.size["per_layer"]
    per_images = ctx.size["images_per_layer"]
    waves = TRACED_WAVES if ctx.traced else TIMED_WAVES
    lap, setup = _laps(), {"session_s": ctx.session_s}
    web = gen.layered_web(spark, ctx.seed, per_layer, per_images, LAYERS,
                          crawl_layers=waves)
    web.pages.count()
    web.images.count()
    setup["generate_s"] = lap()
    robots = web.robots.select("host", "robots_txt", "fetched_ts")

    def engine(warehouse: str, traced: bool) -> CrawlEngine:
        store = LocalSnapshotStore(spark, warehouse,
                                   compact_every=COMPACT_EVERY)
        if traced:
            store = StoreProxy(store, ctx.tracer)
        return CrawlEngine(spark, web.pages, robots, web.images, warehouse,
                           cfg, robots_cache_init=robots, state_store=store)

    # warm-up: one whole engine wave (python workers, JIT, codegen, the
    # commit pool) over the first few seeds into a throwaway warehouse
    n_warm = ctx.size["warm_rows"]
    warm_seeds = web.seeds.where(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("int") < n_warm)
    _checked(out, "warm-up wave", lambda: engine(
        ctx.work.sub("warm_warehouse"), False).run(warm_seeds, max_waves=1))
    setup["warm_up_s"] = lap()
    out.report["setup"] = setup

    wh = ctx.work.sub("warehouse")
    hook_log: list[dict] = []

    def on_wave(wave, m, wall):
        now = time.time()
        hook_log.append({"wave": wave, "end": now, "wall": wall,
                         "scheduled": m["n_scheduled"],
                         "parsed": m["n_parsed"], "stored": m["n_stored"]})
        if ctx.tracer is not None:
            ctx.tracer.add("wave", now - wall, now, wave=wave,
                           scheduled=m["n_scheduled"])

    status = SparkStatus(spark) if ctx.traced else None
    if status:
        status.settle()
    t0 = time.time()
    first = _checked(out, "wave 0", lambda: engine(wh, ctx.traced).run(
        web.seeds, max_waves=1, on_wave=on_wave))
    t1 = time.time()
    res = first
    if first is not None and waves > 1:
        res = _checked(out, "resumed waves", lambda: engine(
            wh, ctx.traced).run(web.seeds, max_waves=waves, resume=True,
                                on_wave=on_wave))
    t2 = time.time()

    resumed = [h for h in hook_log if h["wave"] >= 1]
    for h in hook_log:
        expect = {"scheduled": per_layer, "parsed": per_layer,
                  "stored": per_images}
        errs = [f"{k}={h[k]}, expected {v}" for k, v in expect.items()
                if h[k] != v]
        out.op(errs, f"wave {h['wave']}")
    if res is not None:
        errs = _check_crawl(res, web, len(hook_log))
        if errs:
            out.errors += errs
            out.failed = max(out.failed, 1)
    if len(hook_log) < waves:
        out.op([f"only {len(hook_log)} of {waves} waves committed"],
               "crawl")

    crawled = sum(h["parsed"] for h in hook_log)
    stored = sum(h["stored"] for h in hook_log)
    crawl_wall = t2 - t0
    walls = [h["wall"] for h in hook_log if not _compaction(h["wave"])]
    out.e2e = {
        "setup_s": sum(setup.values()),
        "urls_per_s": crawled / crawl_wall if crawled else 0.0,
        "state_bytes_per_url": dir_bytes(wh) / max(1, crawled),
    }
    out.report.update({
        "per_wave_pages": per_layer, "per_wave_images": per_images,
        "waves": len(hook_log),
        "crawl_wall_s": crawl_wall,
        "crawl_urls_per_s": out.e2e["urls_per_s"],
        "stored_rows_per_s": stored / crawl_wall if stored else 0.0,
        "wave_wall_s": summary(walls),
        "resume_wave_wall_s": (resumed[0]["end"] - t1) if resumed else None,
        "compaction_wave_wall_s": next(
            (h["wall"] for h in hook_log if _compaction(h["wave"])), None),
        "wave_walls": {h["wave"]: h["wall"] for h in hook_log},
    })
    if ctx.traced and res is not None:
        _crawl_traced(ctx, out, status, web, res, hook_log, cfg)
    return out


def _compaction(wave: int) -> bool:
    return wave > 0 and wave % COMPACT_EVERY == 0


def _check_crawl(res, web, n_waves: int) -> list[str]:
    errs = []
    per = web.per_layer
    trace = res.trace()
    for w in range(n_waves):
        got = fp.fingerprint(trace.where(F.col("wave") == w), "url")
        if got != fp.fingerprint(web.layer_urls(w), "url"):
            errs.append(f"wave {w} crawled other URLs than layer {w}")
    seen = res.seen()
    r = seen.agg(F.count(F.lit(1)), F.countDistinct("url")).first()
    if r[0] != per * n_waves or r[1] != r[0]:
        errs.append(f"seen has {r[0]} rows / {r[1]} distinct, expected "
                    f"{per * n_waves}")
    rows = res.store().select("image_id", "phash").collect()
    n_img = web.images_per_layer * n_waves
    if len(rows) != n_img or len({r["image_id"] for r in rows}) != n_img:
        errs.append(f"store has {len(rows)} rows, expected {n_img} "
                    "distinct images")
    bad = [r["image_id"] for r in rows
           if r["image_id"] not in web.pixels
           or codecs.phash64(web.pixels[r["image_id"]]) != r["phash"]]
    if bad:
        errs.append(f"{len(bad)} stored phash values differ, e.g. {bad[:3]}")
    pending = fp.fingerprint(res.frontier(), "url")
    if n_waves < web.layers and pending != fp.fingerprint(
            web.layer_urls(n_waves), "url"):
        errs.append(f"pending frontier is not layer {n_waves}")
    return errs


def _crawl_traced(ctx, out, status, web, res, hook_log, cfg) -> None:
    """Per-layer figures for crawl_bulk: status-store counts per wave,
    store figures from the proxy, then each layer's public function on
    this crawl's own pages, images and discovered links."""
    tracer = ctx.tracer
    tracer.adopt("wave", "store.")
    status.settle()
    t_scrape = time.time()
    jobs = status.jobs()
    per_wave = []
    for s in [s for s in tracer.spans if s["name"] == "wave"]:
        win = status.window(s["start"], s["end"], jobs)
        s["attrs"].update({k: v for k, v in win.items() if k != "ran"})
        per_wave.append((s["attrs"]["wave"], win))
    tracer.self_s += time.time() - t_scrape
    plain = [w for wave, w in per_wave if not _compaction(wave)]
    crawled = sum(h["parsed"] for h in hook_log)
    pl = layers.zero_metrics()

    def med(key):
        return statistics.median(w[key] for w in plain) if plain else 0.0

    pl.update({
        "engine.jobs_per_wave": med("jobs"),
        "engine.stages_per_wave": med("stages"),
        "engine.tasks_per_wave": med("tasks"),
        "engine.driver_only_s_per_wave": med("driver_only_s"),
        "engine.executor_cpu_s_per_url":
            sum(w["cpu_s"] for _, w in per_wave) / max(1, crawled),
        "engine.shuffle_bytes_per_url":
            sum(w["shuffle_bytes"] for _, w in per_wave) / max(1, crawled),
    })
    walls = {h["wave"]: h["wall"] for h in hook_log}
    _store_figures(tracer, pl, crawled, walls)
    out.report["store.entries_per_read_by_wave"] = _entries_by_wave(tracer)

    m = res.metrics().where(F.col("partition_id") == -1).agg(
        F.sum("scheduled"), F.sum("errors")).first()
    pl["fetch.rows"] = float(m[0] or 0)
    pl["fetch.error_share"] = layers.share(m[1] or 0, m[0] or 0)

    crawled_pages = web.pages.where(
        F.regexp_extract("url", r"/L(\d+)/", 1).cast("int")
        < len(hook_log))
    parse, parsed = layers.probe_parse(tracer, crawled_pages)
    pl.update(parse)
    pl.update(layers.probe_codecs(tracer, web.images))
    links = parsed.select(
        F.explode("doc.child_urls").alias("url"), "base_url",
        F.col("url").alias("parent_url"), F.lit(1).alias("depth"),
        F.lit(0).alias("priority"), F.lit(0).alias("wave"))
    st = fp.read_seen(res.state)
    robots = web.robots.select("host", "robots_txt")
    pl.update(layers.probe_schedule_path(tracer, status, links, st, robots,
                                         cfg, base_col="base_url",
                                         dedup=True))
    parsed.unpersist()
    pl["trace.overhead_s"] = tracer.self_s
    pl["trace.evicted_stages"] = status.evicted_stages + status.evicted_jobs
    out.per_layer = pl
    out.report["waves_traced"] = [
        {"wave": wave, **{k: v for k, v in w.items() if k != "ran"}}
        for wave, w in per_wave]


def _entries_by_wave(tracer) -> list:
    """Mean delta entries per merge/bucketed read, in read order, grouped
    by the last wave committed before the read (-1: before any wave)."""
    commits = sorted((s["end"], s["attrs"]["wave"]) for s in tracer.spans
                     if s["name"] == "store.commit_wave")
    groups: dict = {}
    for s in tracer.spans:
        if "entries" not in s["attrs"]:
            continue
        after = [w for t, w in commits if t <= s["start"]]
        groups.setdefault(after[-1] if after else -1, []).append(
            s["attrs"]["entries"])
    return [{"after_wave": w, "entries_per_read": statistics.mean(v)}
            for w, v in sorted(groups.items())]


WORKLOADS = {"frontier_1m": frontier_1m, "crawl_bulk": crawl_bulk}
