"""Wave-atomic state storage with lineage + resume (SURVEY.md §2.9, §4.3).

Replaces the reference's Couchbase KV sinks (/root/reference/src/db/db.go:
22-109: InsertDocument keyed by url, InsertRobots keyed by host, InsertWords
keyed by url+word — all row-at-a-time RPC upserts) with set-oriented,
snapshot-committed tables.

Two backends behind one contract:

  IcebergSnapshotStore — real `MERGE INTO` + Iceberg snapshots + lineage
                       begin/commit markers; used when the
                       iceberg-spark-runtime jar is on the classpath (the
                       spark-submit deployment target).
  LocalSnapshotStore — pure Parquet + JSON lineage manifests implementing the
                       same wave-commit/resume semantics; runs in this
                       sandbox (no Iceberg jar bundled with PySpark, verified).

Commit protocol (both): a wave writes all of its table deltas/snapshots
FIRST, then one lineage manifest naming them. A manifest is the commit
point: a job killed mid-wave leaves orphan files but no manifest, so resume
re-runs that wave deterministically — no duplicate fetches survive into
state (north_rule: resumable with per-partition lineage + metrics).

LocalSnapshotStore reads its `_lineage/` manifests once, when it is opened,
and adds each manifest it commits; every read selects its entries from that
log. One store object writes a warehouse: another object opened on the same
path sees those commits only when it is opened after them. Compaction is the
store's own rule (`compacts(wave)`, every `compact_every` waves): such a wave
folds every merge and bucketed table that has committed rows into one
snapshot, whether or not the wave passed a delta for it, so callers may omit
any table whose delta is empty.

Table modes:
  append   — per-wave delta dirs (store, trace, metrics): O(delta) write.
  bucketed — per-wave delta dirs hash-partitioned by
             `_b = pmod(xxhash64(key), nb)` (seen, store_keys): the tables
             every wave PROBES. The layout lets exactcheck.bucketed_anti_join
             partition-prune + broadcast instead of shuffling the table;
             compaction folds deltas into one snapshot and grows nb so
             bucket size stays bounded (BENCH/SEEN_PROBE.md). Iceberg
             expresses the same layout as a bucket(nb, key) transform.
  merge    — keyed delta dirs with add/remove ops (frontier, robots_cache):
             O(delta) write per wave; reads resolve latest-op-per-key since
             the last compaction; every `compact_every` waves a resolved
             snapshot is rewritten so read cost stays bounded. This is what
             keeps a 10^10-row frontier from being rewritten every wave —
             the wave commit cost is O(changed rows), not O(total frontier).
             The Iceberg deployment expresses the same deltas as
             MERGE INTO / DELETE.
  full     — per-wave full snapshot (bloom only: bounded segment set);
             reads take the latest, and no compaction touches it.
"""

from __future__ import annotations

import json
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

APPEND_TABLES = ("store", "trace", "metrics", "pages_meta")
MERGE_TABLES = {"frontier": "url", "robots_cache": "host"}  # table -> key
FULL_TABLES = ("bloom",)
# key tables that every wave PROBES (exact seen check, store dedup): written
# hash-bucketed on disk (dir partition `_b = pmod(xxhash64(key), nb)`) so the
# probe can partition-prune instead of shuffling the whole table, and folded
# into the compaction cycle so nb grows with the table (bounded bucket size
# -> probe cost O(|probe| x bucket_size), independent of total table size).
# The Iceberg deployment expresses the same layout as a `bucket(nb, key)`
# partition transform (storage-partitioned join, no shuffle on either side).
BUCKETED_TABLES = {"seen": "url", "store_keys": "image_id"}  # table -> key
BUCKET_COL = "_b"

OP_COL = "_op"    # 'add' | 'remove'; engine supplies it on merge deltas
WV_COL = "_wv"    # stamping wave, added by the store at write time


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1).bit_length())


def _dedup_keep_first(df: DataFrame, key: str) -> DataFrame:
    """Deterministic one-row-per-key: keep the row that is minimal by
    (first_wave|wave|_wv, then remaining columns) — dropDuplicates([key])
    keeps an ARBITRARY row, which would make the surviving seen row's
    first_wave (used by read()'s wave filter) nondeterministic if a
    duplicate key ever lands in deltas. groupBy + min(struct) keeps
    map-side partial aggregation (no window sort)."""
    others = [c for c in df.columns if c != key]
    if not others:
        return df.dropDuplicates([key])
    order_first = [c for c in ("first_wave", "wave", WV_COL)
                   if c in others]
    rest = [c for c in others if c not in order_first]
    return (df.groupBy(key)
              .agg(F.min(F.struct(*order_first, *rest)).alias("_s"))
              .select(key, *[F.col(f"_s.{c}").alias(c) for c in others]))


class LocalSnapshotStore:
    def __init__(self, spark: SparkSession, path: str,
                 compact_every: int = 8,
                 initial_buckets: int = 8,
                 bucket_target_rows: int = 1 << 20):
        self.spark = spark
        self.path = path
        self.compact_every = max(2, compact_every)
        # bucketed-table layout: nb starts at initial_buckets and doubles at
        # compaction whenever rows/nb would exceed bucket_target_rows, so
        # bucket SIZE stays bounded as the table grows (the probe-cost
        # invariant). nb is recorded per manifest entry; it only changes at
        # a compaction (which rewrites every row under the new nb), so all
        # entries a read unions share one consistent nb.
        self.initial_buckets = max(1, initial_buckets)
        self.bucket_target_rows = max(1, bucket_target_rows)
        # the committed manifests in wave order: read from disk once here,
        # then kept in step with it by commit_wave
        d = os.path.join(path, "_lineage")
        os.makedirs(d, exist_ok=True)
        self._log: list[dict] = []
        for fn in sorted(os.listdir(d)):
            if fn.startswith("wave-") and fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    self._log.append(json.load(f))

    def compacts(self, wave: int) -> bool:
        """Whether `wave` folds the merge and bucketed tables' delta logs
        into one snapshot each."""
        return wave > 0 and wave % self.compact_every == 0

    # ------------------------------------------------------------- commit

    def _table_path(self, table: str, wave: int) -> str:
        return os.path.join(self.path, table, f"wave={wave:05d}")

    def _resolve(self, df: DataFrame, key: str) -> DataFrame:
        """Latest op per key wins; same-wave 'add' beats 'remove' (a URL
        dropped and re-discovered as a child in one wave stays enqueued,
        matching the oracle). Only 'add' survivors are rows."""
        w = Window.partitionBy(key).orderBy(
            F.desc(WV_COL), F.desc("_opr"))
        return (
            df.withColumn(
                "_opr", F.when(F.col(OP_COL) == "add", 1).otherwise(0))
            .withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col(OP_COL) == "add"))
            .drop(OP_COL, WV_COL, "_opr", "_rn")
        )

    def _entries(self, table: str, upto_wave: int | None = None) -> list[dict]:
        """The manifest entries a read of `table` unions: every entry of an
        append table, the last of a full table, and for merge and bucketed
        tables the latest compacted snapshot and every delta after it."""
        entries = [m["tables"][table] for m in self._log
                   if table in m["tables"]
                   and (upto_wave is None or m["wave"] <= upto_wave)]
        if table in FULL_TABLES:
            return entries[-1:]
        if table in MERGE_TABLES or table in BUCKETED_TABLES:
            start = max((i for i, e in enumerate(entries)
                         if e["mode"] == "compact"), default=0)
            return entries[start:]
        return entries

    def _current_nb(self, table: str) -> int:
        """Bucket count in force for `table` (latest committed entry wins;
        nb only changes at compaction, which rewrites all rows)."""
        for m in reversed(self._log):
            e = m["tables"].get(table)
            if e and "nb" in e:
                return int(e["nb"])
        return self.initial_buckets

    def _with_bucket(self, df: DataFrame, key: str, nb: int) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(F.col(key)), F.lit(nb)).cast("int"))

    def _fold(self, table: str, wave: int,
              delta: DataFrame | None) -> DataFrame:
        """Compaction: `delta` (None when the wave passed none) and the
        non-empty entries a read of `table` unions, as one snapshot —
        first row per key for a bucketed table, the resolved adds of a
        merge table."""
        parts = [] if delta is None else [delta]
        parts += [self.spark.read.parquet(e["path"]).drop(BUCKET_COL)
                  for e in self._entries(table, upto_wave=wave - 1)
                  if e["files"]]  # an empty delta is a _SUCCESS-only dir
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        if table in BUCKETED_TABLES:
            return _dedup_keep_first(out, BUCKETED_TABLES[table])
        return (self._resolve(out, MERGE_TABLES[table])
                .withColumn(OP_COL, F.lit("add"))
                .withColumn(WV_COL, F.lit(wave)))

    def commit_wave(self, wave: int, tables: dict[str, DataFrame],
                    meta: dict | None = None) -> dict:
        """Write all table data, then the lineage manifest (commit point).
        `meta` (e.g. the seen-filter family + parameters) rides in the
        manifest so resume can validate configuration compatibility. A
        compaction wave also folds each merge and bucketed table that has
        committed rows but no delta in `tables`."""
        tables = dict(tables)
        compacting = self.compacts(wave)
        if compacting:
            for name in (*MERGE_TABLES, *BUCKETED_TABLES):
                if name not in tables and any(
                        e["files"] for e in self._entries(name, wave - 1)):
                    tables[name] = None

        def write_one(item):
            name, df = item
            p = self._table_path(name, wave)
            extra = {}
            if name in MERGE_TABLES and df is not None:
                df = df.withColumn(WV_COL, F.lit(wave))
            if name in MERGE_TABLES or name in BUCKETED_TABLES:
                if compacting:
                    df, mode = self._fold(name, wave, df), "compact"
                else:
                    mode = "merge" if name in MERGE_TABLES else "bucketed"
            else:
                mode = "append" if name in APPEND_TABLES else "full"
            if name in BUCKETED_TABLES:
                key = BUCKETED_TABLES[name]
                nb = self._current_nb(name)
                if mode == "compact":
                    # adaptive nb: bucket size stays <= bucket_target_rows,
                    # so the per-wave probe cost (O(probe-keys x bucket
                    # size)) is flat while the table grows. Grow-only to
                    # avoid churn; always a power of two so bucket ids nest.
                    nb = max(nb, _next_pow2(
                        -(-df.count() // self.bucket_target_rows)))
                # sorted within each bucket file: parquet row-group min/max
                # stats on the key then let point probes skip row groups
                # inside a bucket (the LSM-style second pruning level under
                # the _b directory pruning)
                (self._with_bucket(df, key, nb)
                 .repartition(nb, F.col(BUCKET_COL))
                 .sortWithinPartitions(BUCKET_COL, key)
                 .write.mode("overwrite")
                 .partitionBy(BUCKET_COL).parquet(p))
                extra["nb"] = nb
            else:
                df.write.mode("overwrite").parquet(p)
            # per-partition lineage (north_rule): the manifest names every
            # partition file each wave produced, so any wave's output can be
            # audited / replayed at file granularity (Iceberg gets this from
            # its own snapshot manifests)
            try:
                files = sorted(
                    fn if root == p else os.path.join(
                        os.path.relpath(root, p), fn)
                    for root, _dirs, fns in os.walk(p)
                    for fn in fns if fn.startswith("part-"))
            except OSError:
                files = []
            return name, {"path": p, "mode": mode, "files": files, **extra}

        # independent tables write concurrently (inputs are persisted or
        # disjoint); Spark's scheduler interleaves the jobs, cutting the
        # per-wave commit wall clock ~2-3x. The manifest still lands last.
        # Longest jobs (frontier: children pipeline; store: image decode)
        # are submitted first so the pool's critical path starts at t=0.
        from concurrent.futures import ThreadPoolExecutor

        order = sorted(
            tables.items(),
            key=lambda kv: {"frontier": 0, "store": 1, "bloom": 2}.get(
                kv[0], 9),
        )
        with ThreadPoolExecutor(max_workers=10) as pool:
            entries = dict(pool.map(write_one, order))
        manifest = {
            "wave": wave,
            "tables": entries,
            "committed_unix": time.time(),
        }
        if meta:
            manifest["meta"] = meta
        text = json.dumps(manifest, indent=1)
        tmp = os.path.join(self.path, "_lineage", f".wave-{wave:05d}.tmp")
        final = os.path.join(self.path, "_lineage", f"wave-{wave:05d}.json")
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, final)  # atomic rename = the commit
        # the rename replaced any earlier manifest of this wave: so does the
        # log, which keeps the parsed text, as a fresh reader would
        self._log = sorted(
            [m for m in self._log if m["wave"] != wave] + [json.loads(text)],
            key=lambda m: m["wave"])
        return manifest

    # ------------------------------------------------------------- read

    def manifests(self) -> list[dict]:
        """The committed manifests in wave order (a copy of the log)."""
        return list(self._log)

    def last_wave(self) -> int | None:
        return self._log[-1]["wave"] if self._log else None

    def read_meta(self) -> dict:
        """Latest committed meta dict ({} if none recorded)."""
        for m in reversed(self._log):
            if m.get("meta"):
                return m["meta"]
        return {}

    def read_bucketed(
        self, table: str, upto_wave: int | None = None,
    ) -> tuple[DataFrame, int] | None:
        """(df including the `_b` partition column, nb) for a bucketed key
        table — compacted snapshot + later deltas, all written under ONE nb
        (the invariant the pruned probe depends on; asserted here)."""
        entries = [e for e in self._entries(table, upto_wave)
                   if e["files"]]  # skip _SUCCESS-only empty deltas
        if not entries:
            return None
        nbs = {int(e["nb"]) for e in entries}
        if len(nbs) != 1:  # impossible unless manifests were hand-edited
            raise ValueError(
                f"inconsistent bucket counts {nbs} for table {table!r}")
        dfs = [self.spark.read.parquet(e["path"]) for e in entries]
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
        return df, nbs.pop()

    def read(self, table: str, upto_wave: int | None = None) -> DataFrame | None:
        """append: union of committed deltas; merge: latest-op-per-key over
        deltas since the last compaction; full: latest snapshot; bucketed:
        compacted snapshot + later deltas (bucket column stripped — use
        read_bucketed for the probe layout)."""
        if table in BUCKETED_TABLES:
            r = self.read_bucketed(table, upto_wave)
            return None if r is None else r[0].drop(BUCKET_COL)
        entries = self._entries(table, upto_wave)
        if not entries:
            return None
        df = self.spark.read.parquet(*[e["path"] for e in entries])
        if table in MERGE_TABLES:
            return self._resolve(df, MERGE_TABLES[table])
        return df


class IcebergSnapshotStore:
    """Iceberg implementation of the LocalSnapshotStore contract
    (commit_wave / read / last_wave, plus recover) for the spark-submit
    deployment. The iceberg-spark-runtime jar is not bundled with PySpark in
    this sandbox (verified), so every statement this class issues is plain
    SQL built by pure methods and exercised end-to-end against a recording
    FakeSpark in tests/test_iceberg_contract.py — MERGE/DELETE semantics,
    begin->writes->commit ordering, and rollback-on-resume are all asserted
    there.

    Wave-atomicity protocol (mirrors LocalSnapshotStore's manifest rename):
      1. BEGIN   — append lineage rows (kind='begin') recording each table's
                   CURRENT snapshot id (the rollback target) BEFORE writing.
      2. WRITES  — merge tables (frontier/robots_cache) via MERGE INTO with
                   add->upsert / remove->DELETE clauses (O(delta), never an
                   O(total-state) INSERT OVERWRITE); append tables via
                   INSERT INTO; bloom (bounded segment set) via overwrite.
      3. COMMIT  — ONE lineage append containing per-table post-write
                   snapshot ids plus a kind='commit' marker row. A wave
                   without its commit row never happened.

    Resume: `recover()` finds begin rows newer than the last committed wave
    and rolls each table back to its recorded snapshot
    (CALL <catalog>.system.rollback_to_snapshot), or truncates tables that
    had no snapshot yet — so orphan appends from a killed job can never leak
    duplicate fetches into reads (ADVICE round 1).
    """

    LINEAGE_SCHEMA = "wave int, table string, snapshot_id string, kind string"

    def __init__(self, spark: SparkSession, catalog: str = "crawl",
                 namespace: str = "grawler"):
        self.spark = spark
        self.catalog = catalog
        self.ns = namespace

    @staticmethod
    def available(spark: SparkSession, catalog: str = "crawl") -> bool:
        try:
            impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        except Exception:
            impl = None
        return bool(impl)

    def _q(self, table: str) -> str:
        return f"{self.catalog}.{self.ns}.{table}"

    # ------------------------------------------------ pure SQL builders

    def merge_source_sql(self, table: str) -> str:
        """Pre-resolved MERGE source: ONE row per key. The engine can emit
        both a 'remove' and an 'add' for the same URL in one wave (a row
        leaves the frontier robots-denied/failed and is rediscovered as a
        child); LocalSnapshotStore._resolve implements add-beats-remove for
        this, but raw MERGE INTO would see two source rows matching one
        target row and raise a cardinality violation — and since
        recover()+resume deterministically replays the wave, the deploy
        crawl would wedge permanently. Resolution: keep every 'add' row,
        keep a 'remove' row only if its key has no 'add' in the delta."""
        key = MERGE_TABLES[table]
        return (
            f"(SELECT * FROM _delta d WHERE d.{OP_COL} = 'add' OR NOT "
            f"EXISTS (SELECT 1 FROM _delta a WHERE a.{key} = d.{key} "
            f"AND a.{OP_COL} = 'add'))"
        )

    def merge_sql(self, table: str, cols: list[str]) -> str:
        """Keyed delta application: remove -> DELETE, add -> upsert.
        cols = data columns (no _op). Source is pre-resolved to one row per
        key (merge_source_sql) so same-wave remove+add cannot violate
        MERGE cardinality."""
        key = MERGE_TABLES[table]
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
        return (
            f"MERGE INTO {self._q(table)} t "
            f"USING {self.merge_source_sql(table)} s "
            f"ON t.{key} = s.{key} "
            "WHEN MATCHED AND s._op = 'remove' THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED AND s._op = 'add' THEN "
            f"INSERT ({', '.join(cols)}) "
            f"VALUES ({', '.join('s.' + c for c in cols)})"
        )

    def insert_new_sql(self, table: str, cols: list[str]) -> str:
        """First-wins keyed insert for the bucketed key tables (seen,
        store_keys). The engine anti-joins deltas against the table before
        commit, so keys are normally new — but if a duplicate ever lands,
        WHEN NOT MATCHED keeps the FIRST committed row: the same
        deterministic min-first_wave rule LocalSnapshotStore's compaction
        applies (_dedup_keep_first), instead of a raw INSERT INTO
        accumulating divergent rows forever. The source subquery also
        dedups within the delta (row_number over wave-then-rest ordering)
        so multiple same-key source rows cannot each insert."""
        key = BUCKETED_TABLES[table]
        order_first = [c for c in ("first_wave", "wave", WV_COL)
                       if c in cols]
        order = order_first + [c for c in cols if c not in order_first]
        src = (f"(SELECT {', '.join(cols)} FROM "
               f"(SELECT *, row_number() OVER (PARTITION BY {key} "
               f"ORDER BY {', '.join(order)}) _rn FROM _delta) "
               f"WHERE _rn = 1)")
        return (
            f"MERGE INTO {self._q(table)} t "
            f"USING {src} s "
            f"ON t.{key} = s.{key} "
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(cols)}) "
            f"VALUES ({', '.join('s.' + c for c in cols)})"
        )

    def create_sql(self, table: str, columns_sql: str,
                   nb: int = 1 << 10) -> str:
        """CREATE TABLE DDL. The bucketed key tables (seen, store_keys)
        carry a `bucket(nb, key)` partition transform — the Iceberg
        equivalent of LocalSnapshotStore's `_b` directory layout — so the
        per-wave exact probes run as storage-partitioned joins
        (spark.sql.sources.v2.bucketing.enabled + requireAllClusterKeys
        off): the table side is read bucket-aligned with NO shuffle, and
        probe-untouched buckets are pruned at the manifest level."""
        part = ""
        if table in BUCKETED_TABLES:
            part = (f" PARTITIONED BY "
                    f"(bucket({nb}, {BUCKETED_TABLES[table]}))")
        return (f"CREATE TABLE IF NOT EXISTS {self._q(table)} "
                f"({columns_sql}) USING iceberg{part}")

    def append_sql(self, table: str) -> str:
        return f"INSERT INTO {self._q(table)} SELECT * FROM _delta"

    def overwrite_sql(self, table: str) -> str:
        # bloom only: a bounded per-segment table, not crawl state
        return f"INSERT OVERWRITE {self._q(table)} SELECT * FROM _delta"

    def rewrite_data_files_sql(self, table: str) -> str:
        """Maintenance analogue of LocalSnapshotStore's delta-folding
        compaction: bin-pack the small per-wave delta files. Scheduled at
        the same compact_every cadence (tools/gen_iceberg_log.py shows the
        full statement stream)."""
        return (f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self.ns}.{table}', "
                f"options => map('min-input-files', '2'))")

    def replace_bucket_sql(self, table: str, old_nb: int,
                           new_nb: int) -> str:
        """Maintenance analogue of LocalSnapshotStore's adaptive nb
        doubling: swap the bucket(nb, key) partition transform. New writes
        land under the new spec immediately; the follow-up
        rewrite_data_files migrates existing files so bucket size stays
        bounded as the table grows."""
        key = BUCKETED_TABLES[table]
        return (f"ALTER TABLE {self._q(table)} REPLACE PARTITION FIELD "
                f"bucket({old_nb}, {key}) WITH bucket({new_nb}, {key})")

    def expire_snapshots_sql(self, table: str, retain_last: int = 8) -> str:
        """Maintenance analogue of LocalSnapshotStore's manifest pruning:
        drop snapshots older than the rollback horizon (recover() only
        ever rolls back to the previous committed wave, so retaining the
        last few is sufficient)."""
        return (f"CALL {self.catalog}.system.expire_snapshots("
                f"table => '{self.ns}.{table}', "
                f"retain_last => {retain_last})")

    def rollback_sql(self, table: str, snapshot_id: str) -> str:
        return (f"CALL {self.catalog}.system.rollback_to_snapshot"
                f"('{self.ns}.{table}', {snapshot_id})")

    def truncate_sql(self, table: str) -> str:
        return f"DELETE FROM {self._q(table)}"

    # ------------------------------------------------------- operations

    def snapshot_id(self, table: str) -> str | None:
        """CURRENT snapshot (the main branch ref) — NOT the newest row of
        `.snapshots`: Iceberg retains rolled-back snapshots there, so
        ordering by committed_at would return the orphan a recover() just
        rolled away and poison the next wave's BEGIN rollback target."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._q(table)}.refs "
            "WHERE name = 'main'"
        ).collect()
        return str(rows[0]["snapshot_id"]) if rows else None

    def _append_lineage(self, rows: list[tuple]) -> None:
        df = self.spark.createDataFrame(rows, self.LINEAGE_SCHEMA)
        df.createOrReplaceTempView("_delta")
        self.spark.sql(
            f"INSERT INTO {self._q('lineage')} "
            "SELECT *, current_timestamp() AS committed_ts FROM _delta")

    def commit_wave(self, wave: int, tables: dict[str, DataFrame],
                    meta: dict | None = None) -> dict:
        # 1. BEGIN: record rollback targets before any write
        self._append_lineage([
            (wave, n, self.snapshot_id(n) or "none", "begin")
            for n in tables
        ])
        # 2. WRITES
        entries = {}
        for name, df in tables.items():
            df.createOrReplaceTempView("_delta")
            if name in MERGE_TABLES:
                cols = [c for c in df.columns if c != OP_COL]
                self.spark.sql(self.merge_sql(name, cols))
                mode = "merge"
            elif name in BUCKETED_TABLES:
                self.spark.sql(self.insert_new_sql(name, list(df.columns)))
                mode = "merge_insert"
            elif name in FULL_TABLES:
                self.spark.sql(self.overwrite_sql(name))
                mode = "full"
            else:
                self.spark.sql(self.append_sql(name))
                mode = "append"
            entries[name] = {"snapshot_id": self.snapshot_id(name),
                             "mode": mode}
        # 3. COMMIT: one atomic lineage append, marker row last. Meta (the
        # seen-filter family/params) rides as a kind='meta' row in the same
        # atomic append: snapshot_id carries the JSON payload.
        meta_rows = (
            [(wave, "_meta", json.dumps(meta, sort_keys=True), "meta")]
            if meta else []
        )
        self._append_lineage(
            [(wave, n, str(e["snapshot_id"]), "table")
             for n, e in entries.items()]
            + meta_rows
            + [(wave, "_wave", "", "commit")]
        )
        return {"wave": wave, "tables": entries}

    def compacts(self, wave: int) -> bool:
        """Always False: commit_wave never compacts here. The maintenance
        SQL (rewrite_data_files_sql, replace_bucket_sql) runs outside it."""
        return False

    def last_wave(self) -> int | None:
        rows = self.spark.sql(
            f"SELECT max(wave) AS w FROM {self._q('lineage')} "
            "WHERE kind = 'commit'"
        ).collect()
        return rows[0]["w"] if rows and rows[0]["w"] is not None else None

    def read_meta(self) -> dict:
        """Latest committed meta payload ({} if none recorded)."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._q('lineage')} "
            "WHERE kind = 'meta' ORDER BY wave DESC LIMIT 1"
        ).collect()
        return json.loads(rows[0]["snapshot_id"]) if rows else {}

    def recover(self) -> list[str]:
        """Roll back orphan writes from a begun-but-uncommitted wave; call
        on resume BEFORE reading state. Returns executed statements."""
        last = self.last_wave()
        floor = -1 if last is None else last
        orphans = self.spark.sql(
            f"SELECT wave, table, snapshot_id FROM {self._q('lineage')} "
            f"WHERE kind = 'begin' AND wave > {floor} "
            "ORDER BY committed_ts"
        ).collect()
        done: set[str] = set()
        stmts: list[str] = []
        for r in orphans:  # earliest begin per table = pre-crash snapshot
            t = r["table"]
            if t in done:
                continue
            done.add(t)
            if r["snapshot_id"] == "none":
                stmt = self.truncate_sql(t)
            else:
                stmt = self.rollback_sql(t, r["snapshot_id"])
            self.spark.sql(stmt)
            stmts.append(stmt)
        return stmts

    def read(self, table: str, upto_wave: int | None = None):
        """Reads are safe after recover(); append tables additionally
        filter to committed waves via their wave column."""
        df = self.spark.table(self._q(table))
        lw = upto_wave if upto_wave is not None else self.last_wave()
        if (table in APPEND_TABLES or table in BUCKETED_TABLES) \
                and lw is not None:
            wave_col = "first_wave" if table == "seen" else "wave"
            if wave_col in df.columns:
                df = df.where(df[wave_col] <= lw)
        return df
