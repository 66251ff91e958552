"""Tests of the benchmark itself, on tiny inputs (--smoke):

    python3 -m pytest perfbench -q

Each smoke run starts its own Spark driver, so this takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900)


def _parse(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    return _parse(_run("--workload", workload, "--seed", "3",
                       "--seconds", "1", "--trace", str(trace), "--smoke"))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    report, res = _smoke(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert report["ops_failed_share"] == 0
    assert list(res["metrics"]) == [m["name"] for m in BENCH["end_to_end"]]
    for m in BENCH["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


def _traced(workload: str) -> tuple[dict, dict, set]:
    """-> (report, per-layer metrics, names of the spans written)."""
    report, res = _smoke(workload, 1)
    assert res["correct"], report.get("errors")
    assert list(res["metrics"]) == [m["name"] for m in BENCH["per_layer"]]
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in res["metrics"].items())
    assert res["metrics"]["trace.evicted_stages"]["value"] == 0
    spans = json.loads((ROOT / report["span_file"]).read_text())
    return report, res["metrics"], {s["name"] for s in spans["spans"]}


def test_traced_frontier_reports_scaling_and_layer_probes():
    report, m, span_names = _traced("frontier_1m")
    assert m["engine.scaling_eff_1_to_n"]["value"] > 0
    assert report["scaling_rate_local1_urls_per_s"] > 0
    for name in ("urlnorm.urls_per_s", "bloom.probe_s", "exactcheck.probe_s",
                 "robots.check_s", "scheduler.schedule_s",
                 "engine.jobs_per_wave"):
        assert m[name]["value"] > 0, name
    assert "pass" in span_names


def test_traced_crawl_reports_per_layer_metrics_and_spans():
    report, m, span_names = _traced("crawl_bulk")
    assert m["store.compaction_commit_s"]["value"] > 0
    # delta entries per state read grow wave over wave until the
    # compaction wave folds them back into one snapshot
    by_wave = [r["entries_per_read"]
               for r in report["store.entries_per_read_by_wave"]]
    assert by_wave[2] > by_wave[1] and by_wave[3] < by_wave[2]
    assert {"wave", "store.commit_wave", "store.read"} <= span_names
    assert report["waves"] == 3 and report["resume_wave_wall_s"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = _run("--workload", "frontier_1m", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert not os.path.exists(tmp_path / ".perfbench_work")
