"""Generate docs/ICEBERG_STATEMENTS.md: the exact SQL stream the Iceberg
deployment backend issues for one real 3-wave crawl.

The iceberg-spark-runtime jar is absent in this sandbox (environment limit,
docs/COVERAGE.md), so IcebergSnapshotStore cannot execute here — but every
statement it issues is built by pure methods. This tool makes that deploy
surface REVIEWABLE: it runs one REAL engine crawl (synthgen seed 42, the
/verify fixture) against LocalSnapshotStore while recording each
commit_wave's table shapes and row counts, then replays the identical wave
sequence through IcebergSnapshotStore against the recording FakeSpark from
tests/test_iceberg_contract.py (single source of truth for the simulated
Iceberg behaviors), and writes the full annotated statement log:

  1. catalog init        — CREATE TABLE DDL (bucket transform on key tables)
  2. per-wave commits    — BEGIN lineage -> MERGE/INSERT writes -> COMMIT
  3. maintenance cadence — rewrite_data_files / REPLACE PARTITION FIELD /
                           expire_snapshots at the compact_every cadence
  4. crash recovery      — a simulated kill between writes and commit,
                           followed by recover()'s rollback statements

Usage: python tools/gen_iceberg_log.py
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from grawler import synthgen  # noqa: E402
from grawler.conf import CrawlConfig  # noqa: E402
from grawler.engine import build_engine  # noqa: E402
from grawler.session import get_spark  # noqa: E402
from grawler.store import (  # noqa: E402
    BUCKETED_TABLES,
    OP_COL,
    IcebergSnapshotStore,
    LocalSnapshotStore,
)


def _load_fakes():
    """FakeSpark/FakeDF from the contract test — the tested simulation of
    Iceberg's visible behaviors, not a re-implementation."""
    spec = importlib.util.spec_from_file_location(
        "iceberg_contract",
        os.path.join(REPO, "tests", "test_iceberg_contract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.FakeSpark, mod.FakeDF


def record_crawl(max_waves: int = 3) -> list[dict]:
    """One real engine crawl; returns per-wave [{wave, meta, tables:
    {name: {columns, schema_sql, rows}}}] in commit order."""
    spark = get_spark("iceberg-log", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    calls: list[dict] = []

    class RecordingStore(LocalSnapshotStore):
        def commit_wave(self, wave, tables, meta=None):
            rec = {"wave": wave, "meta": meta, "tables": {}}
            for name, df in tables.items():
                rec["tables"][name] = {
                    "columns": list(df.columns),
                    "schema_sql": ", ".join(
                        f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields),
                    "rows": df.count(),
                }
            calls.append(rec)
            return super().commit_wave(wave, tables, meta)

    web = synthgen.generate(seed=42, n_pages=60, shape="mixed")
    wh = tempfile.mkdtemp(prefix="grawler_icelog_")
    try:
        eng, seeds = build_engine(spark, web, wh, CrawlConfig())
        eng.state = RecordingStore(spark, wh, compact_every=4)
        eng.run(seeds, max_waves=max_waves)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return calls


def main() -> None:
    FakeSpark, FakeDF = _load_fakes()
    calls = record_crawl()

    fake = FakeSpark()
    ice = IcebergSnapshotStore(fake, catalog="crawl", namespace="grawler")

    out = [
        "# Iceberg deployment: exact statement stream for one 3-wave crawl",
        "",
        "Generated by tools/gen_iceberg_log.py — a REAL engine crawl",
        "(synthgen seed 42, n_pages=60, the /verify fixture) recorded at",
        "the LocalSnapshotStore commit boundary and replayed through",
        "IcebergSnapshotStore's SQL builders against the contract-test",
        "FakeSpark. Row counts are the real per-wave delta sizes. The",
        "iceberg runtime jar is absent in this sandbox (environment",
        "limit), so this log is the reviewable form of the deploy",
        "surface; tests/test_iceberg_contract.py asserts the same",
        "statement shapes, ordering, and crash-recovery semantics.",
        "",
        "## 1. Catalog init (CREATE TABLE IF NOT EXISTS — idempotent)",
        "",
        "Key tables carry the `bucket(nb, key)` partition transform — the",
        "Iceberg equivalent of the local `_b` directory layout, enabling",
        "storage-partitioned (shuffle-free) exact probes.",
        "",
        "```sql",
    ]

    # DDL from the first wave's recorded schemas. Merge-table targets hold
    # data columns only (the _op column belongs to the delta view).
    first = calls[0]["tables"]
    for name, info in first.items():
        cols_sql = ", ".join(
            c for c in info["schema_sql"].split(", ")
            if not c.startswith(f"{OP_COL} "))
        out.append(ice.create_sql(name, cols_sql, nb=1 << 10) + ";")
    out.append(ice.create_sql(
        "lineage", ice.LINEAGE_SCHEMA + ", committed_ts timestamp") + ";")
    out += ["```", ""]

    # per-wave commit streams
    for rec in calls:
        wave = rec["wave"]
        n0 = len(fake.stmts)
        dfs = {name: FakeDF(fake, info["columns"])
               for name, info in rec["tables"].items()}
        ice.commit_wave(wave, dfs, meta=rec["meta"])
        stmts = fake.stmts[n0:]
        sizes = ", ".join(f"{name} {info['rows']} rows"
                          for name, info in rec["tables"].items())
        out += [
            f"## 2.{wave + 1} Wave {wave} commit "
            f"({len(stmts)} statements)",
            "",
            f"Delta sizes: {sizes}.",
            "",
            "```sql",
        ]
        for s in stmts:
            out.append(s + ";")
            out.append("")
        out[-1] = "```"
        out.append("")

    # maintenance cadence (the compaction analogue)
    out += [
        "## 3. Maintenance cadence (every compact_every waves)",
        "",
        "At its compaction waves LocalSnapshotStore folds the deltas of",
        "every merge and bucketed table and doubles nb when buckets",
        "exceed the target size. The Iceberg deployment's equivalent",
        "maintenance statements per state table (shown here for an nb",
        "1024 -> 2048 growth on the key tables):",
        "",
        "```sql",
    ]
    for table in BUCKETED_TABLES:
        out.append(ice.replace_bucket_sql(table, 1 << 10, 1 << 11) + ";")
        out.append(ice.rewrite_data_files_sql(table) + ";")
        out.append(ice.expire_snapshots_sql(table) + ";")
        out.append("")
    for table in ("frontier", "robots_cache", "trace", "store"):
        out.append(ice.rewrite_data_files_sql(table) + ";")
        out.append(ice.expire_snapshots_sql(table) + ";")
        out.append("")
    out[-1] = "```"
    out.append("")

    # crash recovery: phantom wave begins + partial writes, then recover()
    next_wave = calls[-1]["wave"] + 1
    crash_tables = list(calls[-1]["tables"])[:3]
    n0 = len(fake.stmts)
    ice._append_lineage([
        (next_wave, t, ice.snapshot_id(t) or "none", "begin")
        for t in crash_tables
    ])
    for t in crash_tables[:2]:  # two tables written, then the job dies
        FakeDF(fake, calls[-1]["tables"][t]["columns"]) \
            .createOrReplaceTempView("_delta")
        fake.sql(f"INSERT INTO {ice._q(t)} SELECT * FROM _delta")
    crash_stmts = fake.stmts[n0:]
    rec_stmts = ice.recover()
    out += [
        f"## 4. Crash recovery (wave {next_wave} killed mid-write)",
        "",
        f"Wave {next_wave} BEGINs (recording rollback targets), writes",
        f"{crash_tables[0]} and {crash_tables[1]}, then the job is killed",
        "before the commit marker. The orphan statements:",
        "",
        "```sql",
    ]
    for s in crash_stmts:
        out.append(s + ";")
        out.append("")
    out += [
        "```",
        "",
        "`recover()` on resume finds begin rows newer than the last",
        "commit marker and rolls every begun table back to its recorded",
        "snapshot — the begun-but-unwritten table is restored to the same",
        "snapshot it already holds (a no-op rollback), so no orphan write",
        "can leak into reads:",
        "",
        "```sql",
    ]
    for s in rec_stmts:
        out.append(s + ";")
        out.append("")
    out[-1] = "```"
    out.append("")

    dest = os.path.join(REPO, "docs", "ICEBERG_STATEMENTS.md")
    with open(dest, "w") as f:
        f.write("\n".join(out) + "\n")
    n_stmts = len(fake.stmts)
    print(f"wrote {dest} ({n_stmts} statements replayed, "
          f"{len(calls)} waves)")


if __name__ == "__main__":
    main()
