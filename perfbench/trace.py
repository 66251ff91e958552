"""Tracing from outside the program.

Three sources, none of which needs a change to the engine:

  Tracer       spans (name, start, end, parent, run id, attrs) kept in
               memory and written out once at the end of the run.
  StoreProxy   a timing proxy around LocalSnapshotStore, handed to
               CrawlEngine(state_store=...): times commit_wave, read,
               read_bucketed, last_wave and read_meta, and records what
               each call touched (files and bytes written, delta entries
               unioned since the last compaction).
  SparkStatus  Spark's own status store (populated with the UI disabled),
               read through the JVM gateway: jobs, stages, tasks, shuffle
               bytes and executor CPU, attributed to waves by the job ids
               submitted inside each wave's interval.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

from py4j.protocol import Py4JJavaError

from .harness import dir_bytes

MERGE_OR_BUCKETED = ("frontier", "robots_cache", "seen", "store_keys")


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent inside tracing code itself
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append({"id": f"{name}#{len(self.spans)}",
                               "name": name, "start": start, "end": end,
                               "parent": None, "run_id": self.run_id,
                               "attrs": attrs})

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def adopt(self, parent_name: str, child_prefix: str) -> None:
        """Give parentless spans named `child_prefix*` the `parent_name`
        span whose interval encloses them (waves are only known once
        they end, so store calls inside a wave are parented afterwards)."""
        parents = [s for s in self.spans if s["name"] == parent_name]
        for s in self.spans:
            if s["parent"] is None and s["name"].startswith(child_prefix):
                for p in parents:
                    if p["start"] <= s["start"] and s["end"] <= p["end"]:
                        s["parent"] = p["id"]
                        break

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class _SpanCtx:
    def __init__(self, tracer, name, attrs):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.tracer.add(self.name, self.start, self.end, **self.attrs)
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _entries_since_compaction(manifests: list[dict], table: str) -> int:
    """Delta entries a read of `table` unions: every committed entry from
    the latest compacted snapshot on (empty bucketed deltas are skipped by
    the store and are not counted)."""
    entries = [m["tables"][table] for m in manifests
               if table in m.get("tables", {})]
    start = 0
    for i, e in enumerate(entries):
        if e.get("mode") == "compact":
            start = i
    return sum(1 for e in entries[start:]
               if e.get("files") or e.get("mode") != "bucketed")


class StoreProxy:
    """Times the store contract; forwards everything else untouched (so
    the engine's hasattr probes see exactly the wrapped store's surface)."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._store, name)

    def commit_wave(self, wave, tables, meta=None):
        t0 = time.time()
        manifest = self._store.commit_wave(wave, tables, meta=meta)
        t1 = time.time()
        entries = manifest.get("tables", {})
        files = sum(len(e.get("files", [])) for e in entries.values())
        nbytes = sum(dir_bytes(e["path"]) for e in entries.values()
                     if "path" in e)
        compaction = any(e.get("mode") == "compact" for e in entries.values())
        self._tracer.add("store.commit_wave", t0, t1, wave=wave,
                         files=files, bytes=nbytes, compaction=compaction,
                         tables=sorted(entries))
        self._tracer.self_s += time.time() - t1
        return manifest

    def _timed_read(self, op: str, table, fn):
        t0 = time.time()
        out = fn()
        t1 = time.time()
        attrs = {"table": table}
        if table in MERGE_OR_BUCKETED:
            attrs["entries"] = _entries_since_compaction(
                self._store.manifests(), table)
        self._tracer.add(f"store.{op}", t0, t1, **attrs)
        self._tracer.self_s += time.time() - t1
        return out

    def read(self, table, upto_wave=None):
        return self._timed_read(
            "read", table, lambda: self._store.read(table, upto_wave))

    def read_bucketed(self, table, upto_wave=None):
        return self._timed_read(
            "read_bucketed", table,
            lambda: self._store.read_bucketed(table, upto_wave))

    def last_wave(self):
        return self._timed_read("last_wave", None, self._store.last_wave)

    def read_meta(self):
        return self._timed_read("read_meta", None, self._store.read_meta)


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds (or None)."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStatus:
    """Reads Spark's status store (jobs, stages, tasks) over py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.evicted_stages = 0
        self.evicted_jobs = 0

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the listener has processed every job end event."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout_s
        while tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)

    def jobs(self) -> list[dict]:
        out = []
        seq = self.store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sids = j.stageIds()
            out.append({
                "job": j.jobId(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "stages": [sids.apply(k) for k in range(sids.size())],
            })
        out.sort(key=lambda r: r["job"])
        return out

    def stage(self, sid: int) -> list[dict]:
        """All attempts of one stage; [] (and an eviction count) if the
        status store no longer holds it."""
        try:
            seq = self.store.stageData(sid, False, self._no_status, False,
                                       self._no_quantiles)
        except Py4JJavaError:  # NoSuchElementException: evicted
            seq = None
        if seq is None or seq.size() == 0:
            self.evicted_stages += 1
            return []
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            out.append({
                "stage": sid, "attempt": s.attemptId(),
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks(),
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read_records": s.shuffleReadRecords(),
            })
        return out

    def max_task_share(self, sid: int, attempt: int) -> float | None:
        """Largest task's share of a stage's shuffle-read records."""
        seq = self.store.taskList(sid, attempt, 100_000)
        recs = []
        for i in range(seq.size()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined():
                recs.append(m.get().shuffleReadMetrics().recordsRead())
        total = sum(recs)
        return max(recs) / total if total else None

    def window(self, start: float, end: float,
               jobs: list[dict] | None = None) -> dict:
        """Aggregate every job submitted in [start, end]: job-id range,
        jobs, stages and tasks that ran, executor CPU, shuffle bytes, and
        the driver-only time (interval minus the union of job intervals)."""
        jobs = self.jobs() if jobs is None else jobs
        mine = [j for j in jobs
                if j["start"] is not None and start <= j["start"] <= end]
        ids = [j["job"] for j in mine]
        if ids:
            self.evicted_jobs += (max(ids) - min(ids) + 1) - len(set(ids))
        stage_ids = sorted({s for j in mine for s in j["stages"]})
        ran = []
        for sid in stage_ids:
            ran += [a for a in self.stage(sid)
                    if a["status"] in ("COMPLETE", "FAILED")]
        busy, cur_s, cur_e = 0.0, None, None
        for a, b in sorted((max(j["start"], start),
                            min(j["end"] or end, end)) for j in mine):
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            busy += cur_e - cur_s
        return {
            "job_ids": [min(ids), max(ids)] if ids else None,
            "jobs": len(mine),
            "stages": len(ran),
            "tasks": sum(a["tasks"] for a in ran),
            "cpu_s": sum(a["cpu_s"] for a in ran),
            "shuffle_bytes": sum(a["shuffle_write"] for a in ran),
            "driver_only_s": max(0.0, (end - start) - busy),
            "ran": ran,
        }

