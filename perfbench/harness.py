"""Session, isolation and statistics helpers shared by the workloads."""

from __future__ import annotations

import glob
import math
import os
import platform
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env() -> None:
    """Point the engine's session factory at this host: one local
    executor thread per core and a driver heap that fits in memory."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import the engine too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    """A session from the engine's own factory, launched so that Spark's
    scratch files and the JVM's temporary files stay under ``work``. The
    event log is set up (uncompressed, not rolling, into
    ``<work>/eventlog``) but off; ``restart_traced`` turns it on. Launch
    settings apply to the process's first session only."""
    from audios_to_dataset_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.eventLog.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_traced(spark):
    """Stop the session and start it again in the same JVM with the
    event log on. Launch settings are JVM system properties, which the
    new context reads, so setting one turns the log on."""
    from pyspark import SparkContext

    from audios_to_dataset_spark.session import get_session

    spark.stop()
    SparkContext._jvm.java.lang.System.setProperty(
        "spark.eventLog.enabled", "true")
    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log(work: str) -> str:
    """Path of the one event log a traced run writes under ``work``."""
    (path,) = glob.glob(os.path.join(work, "eventlog", "*"))
    return path


def stop_jvm() -> None:
    """Shut down the JVM a session launched and wait for it to exit.
    Closing its stdin is what makes the gateway JVM exit; its Python
    worker daemons exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def isolate(spark) -> None:
    """Drop every cached table and persisted RDD so no timed operation
    reads state an earlier one left behind."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def conf_snapshot(spark) -> dict:
    return dict(spark.conf.getAll)


def conf_changed(before: dict, after: dict) -> int:
    """Number of session conf keys added, removed or changed."""
    keys = before.keys() | after.keys()
    return sum(before.get(k) != after.get(k) for k in keys)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile). With fewer than eleven samples no percentile
    has ten above it, and the maximum is reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    idx = n - 11  # ten samples lie strictly above xs[idx]
    return xs[idx], math.floor(100.0 * (idx + 1) / n * 10) / 10


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a reading of host speed,
    so that drift between runs shows in their provenance records."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def spark_probe_s(spark) -> float:
    """Median seconds of a fixed Spark job that runs no engine code: a
    reading of how fast the host runs the JVM side right now, which the
    pure-Python probe can miss."""
    spark.sparkContext.setJobGroup("probe", "perfbench host probe")
    times = []
    for _ in range(3):
        with Clock() as c:
            spark.range(0, 4_000_000, 1, 4).selectExpr(
                "sum(id * id % 7)").collect()
        times.append(c.s)
    spark.sparkContext.setJobGroup("", "")
    return sorted(times)[1]


def provenance(spark, seed: int, in_files: int, in_bytes: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=False,
        ).stdout.strip() or "unknown"
    except OSError:
        head = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "git_head": head,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "input_files": in_files,
        "input_bytes": in_bytes,
        "session_conf": conf_snapshot(spark),
        "spark_probe_s": spark_probe_s(spark),
    }


class Clock:
    """Wall-clock stopwatch: ``with Clock() as c: ...; c.s``."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False
