"""Session set-up, isolation and small helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3
QUERY_CAP_S = 45.0


def isolate(run_dir: str) -> None:
    """Keep every file the run and its children write inside the checkout
    and let Python workers import the program under test."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["XDG_CACHE_HOME"] = os.path.join(WORK, "cache")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Session:
    """Set-up cycles on one JVM: each cycle starts a SparkSession through
    the engine's own `get_spark`, resolves every input table (footers and
    schema, memoized by the engine per session) and boots the Python
    worker pool."""

    def __init__(self, warm_paths: list[str]):
        self.warm_paths = warm_paths
        self.spark = None

    def start(self, cores: int) -> float:
        from varpulis_spark.engine import get_spark, read_parquet

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
        for p in self.warm_paths:
            read_parquet(spark, p)
        spark.range(4 * cores, numPartitions=cores).mapInPandas(
            lambda it: it, "id long"
        ).collect()
        self.spark = spark
        return time.perf_counter() - t0

    def setup(self, cores: int, after_first=None) -> tuple[float, list[float]]:
        """SETUPS cycles; returns their median and every cycle's time.
        `after_first` runs between the first cycle and the others."""
        times = [self.start(cores)]
        if after_first is not None:
            after_first()
        times += [self.start(cores) for _ in range(SETUPS - 1)]
        return statistics.median(times), times

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


class QueryWatchdog:
    """Cancels the running Spark jobs of an item past QUERY_CAP_S, so a
    hung query is counted as failed instead of stalling the run."""

    def __init__(self, spark):
        self.spark = spark
        self._timer = None

    def arm(self) -> None:
        self.disarm()
        self._timer = threading.Timer(QUERY_CAP_S, self.spark.sparkContext.cancelAllJobs)
        self._timer.daemon = True
        self._timer.start()

    def disarm(self) -> None:
        if self._timer is not None:
            self._timer.cancel()
            self._timer = None


def shutdown(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and wait until every
    process the run started (JVM, Python worker daemon and workers) has
    ended."""
    import host

    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while len(host.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
