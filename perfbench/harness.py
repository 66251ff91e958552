"""Process-level plumbing for the benchmark: a work directory inside the
checkout, the Spark session, shipping the package to Python workers, and
the small statistics the report uses.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def package_present() -> bool:
    return (ROOT / "grawler" / "__init__.py").is_file()


def cores() -> int:
    """What `nproc` reports: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Workdir:
    """Per-run scratch directory under the checkout; removed by close()."""

    def __init__(self, tag: str):
        self.path = WORK / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.path / "tmp"
        self.tmp.mkdir(parents=True)
        self.results = WORK / "results"
        self.results.mkdir(parents=True, exist_ok=True)
        # everything Spark and Python would put in /tmp lands here instead
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "spark-local")
        # no /tmp/hsperfdata_* from the launcher or driver JVMs
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        tempfile.tempdir = str(self.tmp)

    def sub(self, name: str) -> str:
        return str(self.path / name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def ship_package(work: Workdir) -> str:
    """Zip the grawler package the way `spark-submit --py-files` ships it,
    so Python workers import it whatever their working directory."""
    out = work.path / "grawler.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "grawler").rglob("*")):
            if p.suffix in (".py", ".json") and "__pycache__" not in p.parts:
                z.write(p, p.relative_to(ROOT))
    return str(out)


def start_spark(work: Workdir, master_cores: int, app: str,
                traced: bool = False):
    """The engine's standard session (grawler.session.get_spark) at
    local[master_cores], pointed at the work directory. The traced run
    raises the status store's retention so no stage of a compaction wave
    is evicted before it is read."""
    from grawler.session import get_spark

    conf = {
        "spark.local.dir": str(work.path / "spark-local"),
        "spark.sql.warehouse.dir": str(work.path / "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work.tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(app, master=f"local[{master_cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def open_session(work: Workdir, app: str, traced: bool = False,
                 master_cores: int | None = None):
    """-> (spark, seconds to a usable session incl. shipping the package)."""
    t0 = time.perf_counter()
    spark = start_spark(work, master_cores or cores(), app, traced)
    spark.sparkContext.addPyFile(ship_package(work))
    return spark, time.perf_counter() - t0


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the driver JVM down and wait for it to exit (Python workers
    are its children and end with it)."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def summary(values: list[float]) -> dict:
    """Median, quartiles, max and sample count of a list of timings."""
    v = sorted(values)
    if not v:
        return {"n": 0}
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return {"n": len(v), "p50": statistics.median(v), "q1": q[0],
            "q3": q[2], "max": v[-1]}


def noop(df) -> None:
    """Force a DataFrame completely without collecting it."""
    df.write.format("noop").mode("overwrite").save()
