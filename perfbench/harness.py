"""Session lifecycle, environment fingerprint and order statistics shared
by every workload of the benchmark.

Everything the benchmark writes stays inside its own checkout: temp
files, Spark local dirs and the generated inputs all live under
``perfbench/.work``.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# copies of the engine's seed-42 synthetic fixture tables: all of sf0.001
# (the catalog) plus sf0.1 events and documents (history and dedup bases)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
HEAP = "3g"


def prepare_env() -> None:
    """Point every temporary-file location of Python, the JVM and Spark
    into the work dir and pin the engine to ``local[nproc]``. Must run
    before pyspark is imported or any temp file is created."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # shipped-package zips of earlier runs
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the Python workers inherit the driver's environment: a fixed hash
    # seed and a heap that starts at its full size take two sources of
    # run-to-run jitter out of the figures
    os.environ["PYTHONHASHSEED"] = "0"
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData' "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def master() -> str:
    return f"local[{os.environ['SPARK_GRAFT_CPUS']}]"


def start_session(app: str):
    """One full set-up: JVM + session start, ``ensure_shipped`` and a
    warm-up query. Python workers boot inside the cold unit, the first
    work that needs them. Returns the session and the three phase times
    (the ``session.*`` layer metrics)."""
    from oshdb_spark.session import ensure_shipped, get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ensure_shipped(spark)
    t2 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    return spark, {
        "session.jvm_start_s": t1 - t0,
        "session.ship_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def stop_session(spark) -> None:
    """Stop the session AND its JVM (closing the gateway's stdin makes
    the JVM exit; its Python workers exit with it), so the next
    ``start_session`` pays a real JVM start."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def resident_mb(spark) -> float:
    """Block-manager storage in use (max - remaining) over all block
    managers, in MB."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.valuesIterator()
    used = 0
    while it.hasNext():
        pair = it.next()
        used += pair._1() - pair._2()
    return used / 1e6


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=20
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest() -> str:
    """sha1 over the engine's sources — identifies the code under test
    even where the checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "oshdb_spark")
    for dp, dns, fns in os.walk(pkg):
        dns.sort()
        for fn in sorted(fns):
            if fn.endswith(".py"):
                p = os.path.join(dp, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def fingerprint(spark, **params) -> dict:
    import duckdb

    sha = _git("rev-parse", "HEAD")
    dirty = None
    if sha is not None:
        dirty = bool(_git("status", "--porcelain", "--untracked-files=no"))
    return {
        "nproc": os.cpu_count(),
        "master": master(),
        "spark": spark.version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_sha": sha,
        "git_dirty": dirty,
        "src_sha1": source_digest(),
        **params,
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[int | None, float | None]:
    """Highest whole percentile with at least ten samples beyond it
    (None when there are fewer than 11 samples)."""
    n = len(xs)
    if n < 11:
        return None, None
    i = n - 11  # ten sorted samples lie beyond index i
    return int(100 * (i + 1) / n), sorted(xs)[i]


def describe(xs: list[float]) -> str:
    p, v = tail(xs)
    extra = f" p{p}={v:.4f}" if p is not None else ""
    return f"median={median(xs):.4f}{extra} n={len(xs)}"


def quartile_spread(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3
