"""Process and session plumbing shared by the workloads.

Everything a run writes goes under ``<checkout>/.perfbench_runs``: the
Spark local dirs, the temp dir of this process and of every child it
starts (the JVM, the Python workers), the lake, and the kept result
and span files.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark"
RUNS_DIR = ROOT / ".perfbench_runs"
# The session factory defaults to a 16g heap; bound it for a shared
# machine. A 2g heap slowed trickle drains by ~25% through GC.
DRIVER_MEMORY = "4g"


def require_program() -> None:
    """Fail fast (exit code 2) when the program is not next to the
    benchmark, e.g. in a directory holding only the benchmark files."""
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        sys.exit(2)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@contextmanager
def workdir(label: str):
    """A fresh scratch directory for one run, removed afterwards. The
    process temp dir points inside it before any child starts, so
    nothing lands outside the checkout."""
    import tempfile

    path = RUNS_DIR / f"work-{label}-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    (path / "tmp").mkdir(parents=True)
    env = {
        "TMPDIR": str(path / "tmp"),
        "SPARK_LOCAL_DIRS": str(path / "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # the catalog import asks git for history; stop git walking up
        # out of the checkout
        "GIT_CEILING_DIRECTORIES": str(ROOT.parent),
    }
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        yield path
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(path, ignore_errors=True)


def start_spark(work: Path):
    import pulselake_a_lakehouse_based_fitbit_data_analysis_system_spark as pl

    spark = pl.get_spark(
        app_name="perfbench",
        cpus=nproc(),
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata file: HotSpot writes it to /tmp whatever
            # java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} "
            "-XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM and wait for it:
    PySpark otherwise leaves the JVM running until the interpreter
    exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin pipe breaks
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
        raise


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus this Python process."""
    return (_hwm_kb(jvm_pid(spark)) + _hwm_kb(os.getpid())) / 1024.0


class Clock:
    """Budget for the measured region of one run. Only timed work
    counts against it, so the output checks between passes do not
    change how many passes a run makes."""

    def __init__(self, seconds: float) -> None:
        self.seconds = seconds
        self.spent = 0.0

    def add(self, seconds: float) -> None:
        self.spent += seconds

    def running(self) -> bool:
        return self.spent < self.seconds


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs) -> dict | None:
    """Highest percentile with at least ten samples beyond it, as
    {"p": percentile, "value": seconds, "n": samples}; None when fewer
    than 11 samples support any percentile."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    idx = n - 11  # ten samples above this one
    return {"p": round(100.0 * (idx + 1) / n, 1), "value": s[idx], "n": n}


def save_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(path.suffix + ".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True))
    tmp.replace(path)


def load_json(path: Path):
    if not path.is_file():
        return None
    return json.loads(path.read_text())


def calibration_s(spark) -> float:
    """Machine-speed scalar shared with ``bench.py``: the same fixed
    JVM-side range-sum job, minimum of three."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best
