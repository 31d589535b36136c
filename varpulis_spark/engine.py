"""Spark session factory and table loading, tuned for scale.

The reference engine is a single-process push loop (reference:
crates/varpulis-cli/src/main.rs:942 run_program); our "engine" is Spark
itself. This module owns session defaults that matter at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Broadcast threshold generous enough that dimension tables (region/nation/
  customer-sized) broadcast instead of shuffling.
- Arrow enabled for the Pandas-UDF paths (SASE layer) with bounded batches.
- shuffle partitions sized from the local core count; on a real cluster this
  is left to AQE's coalescing (initialPartitionNum high, AQE shrinks).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Local scan bytes that earn one task of a CPU-heavy kernel stage. From a
# same-host sweep at sf0.01 and sf0.1 (4 cores, SCALE.md "Fan-out"): at
# 1 MiB the 0.6 MB sf0.1 documents table ran its shingling on one task
# (minshingle 2.3x slower); at 128 KiB the ~0.2 MB event and embedding
# tables of sf0.01 split in two for no gain; 256 KiB keeps every sf0.1
# table but the documents on all cores and runs sf0.01 kernels on one task.
BYTES_PER_TASK = 1 << 18

_FANOUT_LOG = logging.getLogger("varpulis_spark.fanout")


def _session_parallelism(spark: SparkSession) -> int:
    """defaultParallelism, without the RDD API where it is missing (Spark
    Connect has no sparkContext: fall back to the shuffle width)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 - Connect: the property raises
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def _scan_files(df: DataFrame) -> tuple[int, int | None]:
    """(files, bytes) `df` scans, from the plan's file list (`inputFiles()`,
    no job) and `os.stat`. Bytes are None when unknown: streaming and
    in-memory frames (0 files), files no local stat can see (object
    stores)."""
    try:
        files = [] if df.isStreaming else df.inputFiles()
    except Exception:  # noqa: BLE001 - plan without a file index
        files = []
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else f
        p = p[5:] if p.startswith("file:") else p
        try:
            total += os.stat(p).st_size
        except OSError:
            return len(files), None
    return len(files), total if files else None


def _fanout(df: DataFrame) -> tuple[int, int, int | None]:
    """(partitions, scanned files, scanned bytes or None); the rule is
    documented on `fanout_partitions`."""
    n = _session_parallelism(df.sparkSession)
    n_files, n_bytes = _scan_files(df)
    if n_bytes is not None:
        n = max(1, min(n, -(-n_bytes // BYTES_PER_TASK)))
    return n, n_files, n_bytes


def _log_fanout(site: str, applied: bool, n_bytes: int | None, n: int) -> None:
    _FANOUT_LOG.debug(
        "fan-out %s at %s: input bytes %s, %d partitions",
        "applied" if applied else "skipped",
        site,
        "unknown" if n_bytes is None else n_bytes,
        n,
    )


def fanout_partitions(df: DataFrame) -> int:
    """Partition count for a CPU-heavy stage over `df`:
    clamp(ceil(local scan bytes / BYTES_PER_TASK), 1, defaultParallelism),
    where the scan bytes are `os.stat` sizes of the plan's `inputFiles()`
    (no job). An unknown size (in-memory or streaming frames, files no
    local stat sees) keeps defaultParallelism. Logs the decision at DEBUG
    on the `varpulis_spark.fanout` logger, applied when it is more than
    one partition."""
    n, _files, n_bytes = _fanout(df)
    _log_fanout("fanout_partitions", n > 1, n_bytes, n)
    return n


def spread(df: DataFrame) -> DataFrame:
    """Fan `df` out to `fanout_partitions(df)` before a CPU-heavy kernel.
    Adds a round-robin exchange only when the scan has fewer files than
    that count: a small local input stays on its one split, and a
    multi-split scan (every real cluster) is left alone. Files can split
    further by maxPartitionBytes, so the file count undercounts only in the
    direction that adds the exchange. Logs the decision like
    `fanout_partitions`, applied when the exchange is added."""
    n, n_files, n_bytes = _fanout(df)
    applied = n_files < n
    _log_fanout("spread", applied, n_bytes, n)
    return df.repartition(n) if applied else df


def spread_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Hash-repartition on `keys` to `fanout_partitions(df)` before a keyed
    Python stage. Keys stay co-located at any count, and the explicit
    count overrides AQE's byte-based coalescing, which would put a few MB
    of events carrying minutes of NFA/DP work on 1-2 tasks of a large
    input. It is the hash distribution the keyed op needs anyway, so no
    extra shuffle is introduced."""
    return df.repartition(fanout_partitions(df), *[F.col(k) for k in keys])


def get_spark(app_name: str = "varpulis_spark", cores: int | None = None) -> SparkSession:
    """Create (or return) a SparkSession with scale-aware defaults."""
    cores = cores or default_parallelism()
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Reference semantics: division by zero yields Null, not an error
        # (crates/varpulis-runtime/src/engine/evaluator.rs:543-553).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the UI is off by default (tests/bench spin many sessions; port
        # churn) — VARPULIS_SPARK_UI=1 enables it so profiling scripts can
        # read per-stage shuffle/spill metrics from the REST API
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("VARPULIS_SPARK_UI") == "1" else "false",
        )
        .getOrCreate()
    )


# (session id, path, file stamp) → DataFrame plan handle. Plan METADATA
# only — a DataFrame is an immutable lazy plan; every action still reads the
# parquet bytes from disk, so no result or data is ever cached here. What the
# memo removes is the per-call schema-inference work: each spark.read.parquet
# runs a driver file-listing/footer job (~30-90 ms measured at sf0.1) plus a
# pyarrow read_schema, repeated for EVERY query × run over the same immutable
# table — exactly the "parquet footer reads" cost bench.warmup() documents as
# absorbed, which a fresh scan per call silently re-paid inside the timed
# region (guide §6: listing/metadata is cached per session; the same
# principle applied to schema inference). Keyed by file stamps so a
# rewritten table (tests regenerate tmp corpora in place) never serves a
# stale schema. Sessions are identified by a uuid token stamped onto the
# SparkSession object itself (not id(spark), which the allocator may reuse
# after a wholesale clear() drops the strong reference — VERDICT r13 #5).
_TABLE_PLAN_MEMO: dict[tuple, DataFrame] = {}


def _session_token(spark: SparkSession) -> str:
    tok = getattr(spark, "_varpulis_memo_token", None)
    if tok is None:
        import uuid

        tok = uuid.uuid4().hex
        try:
            spark._varpulis_memo_token = tok
        except Exception:  # frozen/slotted session object: fall back to id
            return f"id:{id(spark)}"
    return tok


def _path_stamp(path: str) -> tuple:
    """Change-detection stamp for a parquet file or directory: rewritten
    data must produce a new stamp. For a directory the stamp aggregates
    EVERY entry (count + summed mtime_ns + total size via one os.scandir
    pass, ~µs for bench-sized dirs) — the earlier dir-mtime + first-file
    stamp missed an in-place rewrite of a non-first file, which changes
    neither (ADVICE r13)."""
    try:
        st = os.stat(path)
    except OSError:
        return (None,)
    if os.path.isdir(path):
        n, mt_sum, sz_sum = 0, 0, 0
        try:
            with os.scandir(path) as it:
                for e in it:
                    try:
                        est = e.stat()
                    except OSError:
                        continue
                    n += 1
                    mt_sum += est.st_mtime_ns
                    sz_sum += est.st_size
        except OSError:
            return (st.st_mtime_ns, None)
        return (st.st_mtime_ns, n, mt_sum, sz_sum)
    return (st.st_mtime_ns, st.st_size)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet reader that tolerates TIMESTAMP(NANOS) columns.

    The testdata is written with ns-precision timestamps (the reference's
    native resolution, crates/varpulis-core/src/value.rs:38 Timestamp(i64 ns));
    Spark has no ns timestamp, so we read nanos as long and truncate to µs
    TimestampType (`x div 1000` — integer division, no double rounding).
    This matches DuckDB's ns→µs truncation, so oracle comparisons agree.

    The resolved plan handle is memoized per (session, path, file stamp):
    see _TABLE_PLAN_MEMO.
    """
    key = (_session_token(spark), path, _path_stamp(path))
    memo = _TABLE_PLAN_MEMO.get(key)
    if memo is not None:
        return memo
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ns_cols: list[str] = []
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(_first_parquet_file(path))
        ns_cols = [
            f.name
            for f in schema
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        pass
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # µs parquet timestamps written without UTC adjustment (pandas naive)
    # surface as TIMESTAMP_NTZ, which streaming watermarks reject; with the
    # session pinned to UTC the cast is a pure type relabel (same micros).
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    if len(_TABLE_PLAN_MEMO) > 256:  # bound long sessions over many dirs
        _TABLE_PLAN_MEMO.clear()
    _TABLE_PLAN_MEMO[key] = df
    return df


def _first_parquet_file(path: str) -> str:
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    return os.path.join(root, f)
    return path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the standard parquet tables from a scale-factor dir."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def parquet_num_rows(path: str) -> int | None:
    """Exact row count of a parquet file or directory from footer metadata
    (num_rows is a MANDATORY row-level footer field — exact for any
    writer), no Spark job. A plain count() over the same table costs a
    full 2-job scan-aggregate round (~0.3 s at sf0.1, measured r14) that
    operators run during QUERY BUILD just to size a broadcast decision —
    this is the metadata-only answer. Returns None when the path is not
    readable parquet (callers fall back to count())."""
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 - non-local / unreadable: use count()
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
