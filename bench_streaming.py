"""Streaming benchmark — sustained throughput + event-to-alert latency.

The reference is a streaming CEP engine; its published comparison is
latency-based (benchmarks/flink-comparison/BENCHMARK_RESULTS.md:11 —
554 ms average alert latency vs Flink), while the batch suite in bench.py
measures replay throughput only. This module measures the STREAMING half:

- a producer thread appends one parquet file per tick into a spool
  directory, every row stamped with its ingest wall-clock time
  (`ingest_us`) and event-time `ts` = the same wall clock, so event time
  and processing time share a clock;
- three representative streaming twins consume the spool LIVE (default
  ASAP micro-batches — no trigger interval, the lowest-latency mode):
    pattern_runcap  — SASE SEQ(signup→purchase) with BP-01 run caps
    trend_windowed  — pane-composed windowed GRETA trend aggregate
    dedup_history   — SimHash near-dup mining against all history
- a foreachBatch sink stamps each alert at emit and derives the exact
  event-to-alert latency of the alert's COMPLETING event:
    pattern: the completing event's own `ingest_us` rides through the
      pattern emit projection;
    dedup: id-ordered arrival means pair (a, b) completes when max(a, b)
      arrives — the producer shares its {id: write_us} map with the sink;
    trend: the producer emits EXACTLY one event per key per tick, so an
      update row's monotonic `n_events` within a pane indexes the tick
      (hence the write time) of the completing event.

Per scenario: offered eps, sustained eps (input events / wall time to
full drain), alert count, and latency percentiles (p50/p95/p99/mean).
Latency includes scheduler + state-store + Python-worker time — honest
end-to-end numbers, reported in BENCH against the reference's 554 ms.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DURATION_S = float(os.environ.get("SPARK_GRAFT_STREAM_SECONDS", "10"))
TICK_S = float(os.environ.get("SPARK_GRAFT_STREAM_TICK", "0.25"))
DRAIN_BUDGET_S = float(os.environ.get("SPARK_GRAFT_STREAM_DRAIN", "120"))


def _now_us() -> int:
    return time.time_ns() // 1000


class _Producer(threading.Thread):
    """Writes one parquet file per tick (atomic tmp+rename); `make_batch`
    returns a pyarrow Table for tick i stamped by the caller."""

    def __init__(self, spool: str, make_batch, duration_s: float, tick_s: float):
        super().__init__(daemon=True)
        self.spool = spool
        self.make_batch = make_batch
        self.duration_s = duration_s
        self.tick_s = tick_s
        self.rows_written = 0
        self.tick_times_us: list[int] = []  # write wall time per tick
        self.measuring = False  # False while the warmup tick drains

    def write_warmup(self) -> None:
        """Tick 0, written before the query starts (see _drive warmup)."""
        w_us = _now_us()
        tbl = self.make_batch(0, w_us)
        tmp = os.path.join(self.spool, ".tick_000000.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.spool, "tick_000000.parquet"))
        self.tick_times_us.append(w_us)

    def run(self) -> None:
        self.measuring = True
        t_end = time.time() + self.duration_s
        i = 1  # tick 0 was the warmup file
        while time.time() < t_end:
            w_us = _now_us()
            tbl = self.make_batch(i, w_us)
            tmp = os.path.join(self.spool, f".tick_{i:06d}.parquet.tmp")
            dst = os.path.join(self.spool, f"tick_{i:06d}.parquet")
            pq.write_table(tbl, tmp)
            os.rename(tmp, dst)
            self.tick_times_us.append(w_us)
            self.rows_written += tbl.num_rows
            i += 1
            sleep = (w_us / 1e6 + self.tick_s) - time.time()
            if sleep > 0:
                time.sleep(sleep)


def _percentiles(lat_ms: list[float]) -> dict:
    if not lat_ms:
        return {"p50": None, "p95": None, "p99": None, "mean": None, "n": 0}
    a = np.asarray(lat_ms)
    return {
        "p50": round(float(np.percentile(a, 50)), 1),
        "p95": round(float(np.percentile(a, 95)), 1),
        "p99": round(float(np.percentile(a, 99)), 1),
        "mean": round(float(a.mean()), 1),
        "n": int(a.size),
    }


STREAM_SHUFFLE = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")

# RocksDB + changelog checkpointing: measured r9 on the pattern twin
# (p50 916 → 777 ms, the changelog skips the per-batch full-snapshot
# upload) and the dedup twin (sustained 3.2K → 3.5K eps, drain 2.7 → 1.6 s
# at 4K offered); the trend twin showed no win (853 vs 825 eps — pane
# state is tiny and rewritten wholesale), so scenarios opt in.
ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}


def _drive(
    spark, stream, sink_fn, producer, checkpoint: str, conf: dict | None = None
) -> dict:
    """Start the query, run the producer to completion, drain, stop.
    Returns wall-clock accounting; alert latencies land via sink_fn.
    `conf` entries (e.g. state-store provider, shuffle partitions) are
    pinned at query start via the session conf and restored after — a
    streaming query captures them at start."""
    # Stateful micro-batches pay a fixed per-partition cost (task launch +
    # Python state-worker round-trip) EVERY batch; at the bench's key
    # cardinality 8 state partitions beat the batch suite's 32 by ~4× on
    # batch wall time (the group-heavy dedup scenario overrides to 32).
    # Pinned at first start via the query's own conf; restored after — the
    # batch suite keeps its 32.
    producer.write_warmup()
    pinned = {"spark.sql.shuffle.partitions": STREAM_SHUFFLE, **(conf or {})}
    saved: dict = {}
    for k, v in pinned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        q = (
            stream.df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(sink_fn)
            .start()
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # warmup: the FIRST micro-batch pays one-time costs (query planning,
    # state-store init, Python worker spin-up — measured ~7 s) that would
    # otherwise queue the whole run behind it. Feed one warmup tick
    # (already written by the caller before start) and wait for its batch
    # to commit before opening the measured window.
    warm_deadline = time.time() + 60
    while time.time() < warm_deadline and q.isActive:
        lp = q.lastProgress
        if lp is not None and lp["numInputRows"] > 0:
            break
        time.sleep(0.1)
    t0 = time.time()
    producer.start()
    producer.join()
    t_prod = time.time()
    # drain the backlog (bounded): processAllAvailable can hang if the
    # query died — poll isActive alongside
    deadline = time.time() + DRAIN_BUDGET_S
    done = threading.Event()

    def _drain():
        try:
            q.processAllAvailable()
        except Exception:
            pass
        done.set()

    threading.Thread(target=_drain, daemon=True).start()
    while not done.is_set() and time.time() < deadline and q.isActive:
        time.sleep(0.2)
    t1 = time.time()
    exc = q.exception()
    q.stop()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")
    return {
        "producer_s": round(t_prod - t0, 2),
        "total_s": round(t1 - t0, 2),
        "drain_s": round(t1 - t_prod, 2),
    }


def _finish(acct: dict, producer, lat_ms: list[float], alerts: int) -> dict:
    total = producer.rows_written
    return {
        "input_events": total,
        "offered_eps": round(total / max(acct["producer_s"], 1e-9)),
        "sustained_eps": round(total / max(acct["total_s"], 1e-9)),
        "alerts": alerts,
        "latency_ms": _percentiles(lat_ms),
        **acct,
    }


# ---------------------------------------------------------------------------
# scenario 1: SASE pattern with BP-01 run caps
# ---------------------------------------------------------------------------


def bench_pattern_runcap(
    spark, workdir: str, rows_per_tick: int = 2000, users: int = 64
) -> dict:
    """SEQ(signup → purchase) within 2s, keyed by user, max_runs cap with
    evict_oldest backpressure — the pattern+run-management streaming twin.
    80% of offered events are filler types the type-index drops JVM-side
    (the reference's router does the same pre-NFA discard)."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    import varpulis_spark.streaming as S
    from varpulis_spark.operators.sase import Pattern, step

    spool = os.path.join(workdir, "pattern_spool")
    os.makedirs(spool)

    def make_batch(i: int, w_us: int):
        n = rows_per_tick
        rng = np.random.default_rng(1000 + i)
        etype = rng.choice(
            ["view", "click", "signup", "purchase"], size=n, p=[0.45, 0.45, 0.02, 0.08]
        )
        return pa.table(
            {
                "event_type": pa.array(etype),
                "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
                "value": pa.array(rng.uniform(0, 100, n)),
                "ts": pa.array([w_us] * n, type=pa.timestamp("us", tz="UTC")),
                "ingest_us": pa.array([w_us] * n, type=pa.int64()),
                "event_id": pa.array(
                    np.arange(i * n, (i + 1) * n), type=pa.int64()
                ),
            }
        )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("ts", TimestampType()),
            StructField("ingest_us", LongType()),
            StructField("event_id", LongType()),
        ]
    )
    src = S.file_source(spark, spool, schema, order_col="event_id")
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="1s",
        emit={
            "user_id": ("a", "user_id"),
            "a_id": ("a", "event_id"),
            "b_id": ("b", "event_id"),
            "done_ingest_us": ("b", "ingest_us"),
        },
        partition_by=["user_id"],
        max_runs=50,
        backpressure="evict_oldest",
    )
    out = S.apply_pattern_streaming(src.watermark("1s"), p)

    lat_ms: list[float] = []
    alerts = [0]
    producer = _Producer(spool, make_batch, DURATION_S, TICK_S)

    def sink(df, epoch):
        rows = df.select("done_ingest_us").collect()
        if not producer.measuring:
            return
        now = _now_us()
        alerts[0] += len(rows)
        lat_ms.extend((now - r.done_ingest_us) / 1000.0 for r in rows)
    acct = _drive(
        spark, out, sink, producer, os.path.join(workdir, "ckpt_pattern"),
        conf=ROCKSDB_CONF,
    )
    return _finish(acct, producer, lat_ms, alerts[0])


# ---------------------------------------------------------------------------
# scenario 2: windowed streaming trend aggregate (pane-composed GRETA)
# ---------------------------------------------------------------------------


def bench_trend_windowed(
    spark, workdir: str, users: int = 64, rows_per_key: int = 8
) -> dict:
    """Pane-composed windowed trend_aggregate: exactly `rows_per_key`
    purchases per user per tick, 2 s tumbling panes, watermarked 1 s. An
    update row's monotonic per-pane `n_events` indexes the completing
    event's tick (tick = ceil(n_events / rows_per_key) within the pane),
    so latency is exact without threading ingest columns through the
    aggregate. State groups = users x open panes — kept at ~128 because
    per-(key, pane) pandas-group overhead is the micro-batch floor."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    import varpulis_spark.streaming as S

    spool = os.path.join(workdir, "trend_spool")
    os.makedirs(spool)
    size_us = 2_000_000  # 2 s panes

    def make_batch(i: int, w_us: int):
        n = users * rows_per_key
        rng = np.random.default_rng(2000 + i)
        return pa.table(
            {
                "event_type": pa.array(["purchase"] * n),
                "user_id": pa.array(
                    np.repeat(np.arange(users), rows_per_key), type=pa.int64()
                ),
                "value": pa.array(rng.uniform(0, 100, n)),
                "ts": pa.array([w_us] * n, type=pa.timestamp("us", tz="UTC")),
                "event_id": pa.array(np.arange(i * n, (i + 1) * n), type=pa.int64()),
            }
        )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
        ]
    )
    src = S.file_source(spark, spool, schema, order_col="event_id")
    out = S.trend_aggregate_windowed_streaming(
        src.watermark("1s").partition_by("user_id"),
        size="2s",
        event_type="purchase",
        value_field="value",
    )

    lat_ms: list[float] = []
    alerts = [0]
    producer = _Producer(spool, make_batch, DURATION_S, _slow_tick())

    def sink(df, epoch):
        rows = df.select("user_id", "window_start", "n_events").collect()
        if not producer.measuring:
            return
        now = _now_us()
        alerts[0] += len(rows)
        ticks = producer.tick_times_us  # snapshot is append-only
        for r in rows:
            ws_us = int(r.window_start.timestamp() * 1e6)
            in_pane = [w for w in ticks if ws_us <= w < ws_us + size_us]
            tick_idx = -(-int(r.n_events) // rows_per_key)  # ceil
            if 0 < tick_idx <= len(in_pane):
                lat_ms.append((now - in_pane[tick_idx - 1]) / 1000.0)

    acct = _drive(spark, out, sink, producer, os.path.join(workdir, "ckpt_trend"))
    return _finish(acct, producer, lat_ms, alerts[0])


def _slow_tick() -> float:
    """Trend/dedup scenarios: per-(key, pane) pandas-group overhead sets a
    ~1 s micro-batch floor; a 0.5 s tick keeps the query ahead of the
    producer so latency is measured in the keeping-up regime (queueing
    latency while falling behind is unbounded and meaningless)."""
    return max(TICK_S, 0.5)


# ---------------------------------------------------------------------------
# scenario 3: dedup-against-history (SimHash near-dup mining)
# ---------------------------------------------------------------------------


def bench_dedup_history(spark, workdir: str, docs_per_tick: int = 2048) -> dict:
    """SimHash streaming near-dup mining: sequential doc ids, ~15% of each
    tick's docs lightly mutated clones of earlier docs. Pair (a, b)
    completes when the larger id arrives (id-ordered arrival), so latency
    reads the producer's {id → write time} map.

    r8's "114 evt/s sustained" was this harness's own offered-rate cap
    (64 docs × 0.5 s tick = 128 eps offered; the twin was KEEPING UP, not
    failing — the signature kernel already runs as a stateless Arrow stage
    before the keyed state update). r9 raised the offered load to find the
    real ceiling: ~3.5K eps sustained at 4K offered (RocksDB + 32 state
    partitions); the per-batch floor is the stateful stage's fixed cost ×
    the ~4-mostly-distinct-buckets-per-doc group fan-out, not the
    shingling."""
    from types import SimpleNamespace

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    import varpulis_spark.streaming as S
    from varpulis_spark.operators.dedup import simhash_near_dup_streaming

    spool = os.path.join(workdir, "dedup_spool")
    os.makedirs(spool)
    write_us: dict[int, int] = {}
    corpus: list[str] = []
    words = [f"tok{i}" for i in range(500)]

    def make_batch(i: int, w_us: int):
        rng = np.random.default_rng(3000 + i)
        texts, ids = [], []
        base_id = i * docs_per_tick
        for j in range(docs_per_tick):
            doc_id = base_id + j
            if corpus and rng.random() < 0.15:
                src_txt = corpus[int(rng.integers(0, len(corpus)))]
                toks = src_txt.split()
                toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, 500))]
                txt = " ".join(toks)
            else:
                txt = " ".join(words[k] for k in rng.integers(0, 500, 40))
            texts.append(txt)
            ids.append(doc_id)
            write_us[doc_id] = w_us
        corpus.extend(texts[-8:])
        del corpus[:-512]
        return pa.table(
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": pa.array(texts),
            }
        )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = spark.readStream.schema(schema).parquet(spool)
    # state_shards: constant Python round-trips per batch instead of one
    # per touched LSH bucket (~4x docs) — the r9 throughput knee. 32
    # shards = one per state partition; parity-tested vs per-bucket keys.
    shards = int(os.environ.get("SPARK_GRAFT_DEDUP_SHARDS", "32")) or None
    out = simhash_near_dup_streaming(src, max_hamming=3, state_shards=shards)

    lat_ms: list[float] = []
    alerts = [0]
    # 3x window (r10): `sustained` divides by wall INCLUDING the ~1.4 s
    # pipeline-depth drain (one in-flight batch), which understates any
    # micro-batch engine's steady-state rate by ~12% over a 10 s window —
    # r9's "falling behind at 4K" was mostly this accounting, not a
    # throughput deficit (ceiling probes: 6.6K sustained at 8K offered,
    # 10.2K at 12K, same config). A longer window measures steady state.
    producer = _Producer(spool, make_batch, DURATION_S * 3, _slow_tick())

    def sink(df, epoch):
        rows = df.select("id_a", "id_b").collect()
        if not producer.measuring:
            return
        now = _now_us()
        alerts[0] += len(rows)
        for r in rows:
            w = write_us.get(max(r.id_a, r.id_b))
            if w is not None:
                lat_ms.append((now - w) / 1000.0)
    acct = _drive(
        spark,
        SimpleNamespace(df=out),
        sink,
        producer,
        os.path.join(workdir, "ckpt_dedup"),
        # r10, measured at 4K offered with 32 state SHARDS (so total state
        # is 32 keys): HDFSBacked + 8 partitions beats RocksDB + 32 (3638
        # vs 3577 eps, p50 2.33 vs 2.62 s) — with sharded state the
        # thousands-of-groups rationale for 32 partitions is gone, and the
        # per-partition store-commit floor dominates instead. The sig UDF
        # keeps 32-way parallelism via spread() regardless.
        conf={
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider",
            "spark.sql.shuffle.partitions": "8",
        },
    )
    return _finish(acct, producer, lat_ms, alerts[0])


def run_streaming_bench(spark) -> dict:
    """All scenarios; returns the full per-scenario record plus the
    compact summary block bench.py stitches into its stdout line."""
    out: dict = {"duration_s": DURATION_S, "tick_s": TICK_S, "trigger": "asap"}
    scenarios = {
        "pattern_runcap": bench_pattern_runcap,
        "trend_windowed": bench_trend_windowed,
        "dedup_history": bench_dedup_history,
    }
    for name, fn in scenarios.items():
        workdir = tempfile.mkdtemp(prefix=f"vstream_{name}_")
        try:
            out[name] = fn(spark, workdir)
        except Exception as e:  # record, never kill the batch artifact
            out[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    # reference comparison: flink-comparison BENCHMARK_RESULTS.md:11
    out["ref_flink_avg_alert_ms"] = 554
    return out


def compact_streaming(full: dict) -> dict:
    """Small summary for the bench compact line."""
    c: dict = {"ref_flink_avg_alert_ms": full.get("ref_flink_avg_alert_ms")}
    for name in ("pattern_runcap", "trend_windowed", "dedup_history"):
        s = full.get(name) or {}
        if "error" in s:
            c[name] = {"error": s["error"][:120]}
            continue
        lm = s.get("latency_ms", {})
        c[name] = {
            "eps": s.get("sustained_eps"),
            "alerts": s.get("alerts"),
            "p50_ms": lm.get("p50"),
            "p99_ms": lm.get("p99"),
        }
        if s.get("note"):
            c[name]["note"] = s["note"]
    return c


if __name__ == "__main__":
    from varpulis_spark.engine import get_spark

    spark = get_spark("varpulis-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    full = run_streaming_bench(spark)
    print(json.dumps(full, indent=2))
