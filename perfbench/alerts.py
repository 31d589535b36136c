"""stream_alerts: a live SASE SEQ(signup -> purchase) within 1s, partitioned
by user with a run cap (applyInPandasWithState over the RocksDB state
store, the shape the repository's streaming bench calls pattern_runcap),
consuming a spool directory that a separate open-loop generator process
(streamgen.py) fills on a fixed schedule.

Micro-batches start every TRIGGER_MS, on whole multiples of it (Spark's
processing-time trigger). With the default as-soon-as-possible trigger
each batch starts when the previous one ends, so the latency depends on
where ticks fall against that drifting cadence, and on a 4-core host its
median moved by a quarter between runs. The generator starts its schedule
half a tick past a trigger, and every stage up to the end of the measured
one lasts a whole number of trigger intervals, so in every run the same
ticks land in the same micro-batches.

The generator first runs WARM_S seconds at BASE_EPS (not measured: the
first micro-batches still pay code generation and Python worker start),
then the measured base stage, BASE_EPS for `--seconds` seconds rounded
down to whole trigger intervals, then each of LADDER_EPS for LADDER_S
seconds. Alert latency runs from the completing event's scheduled creation
(its `due_us`) to the moment the alert reaches the foreachBatch sink. The
wall time runs from the first event of the base stage to the end of the
micro-batch that processed the last event of the ladder: the schedule's
own length plus however far the engine has fallen behind it. The engine's
busy time, the summed duration of the micro-batches that processed those
events (each weighed by its share of them), is printed beside it but not
gated: a micro-batch at the base rate takes either about 0.85 s or about
1.4 s for a whole run, so it swings by 40% between runs on a quiet host.
A stage is sustained when its alerts' p99 meets
LATENCY_LIMIT_MS and the backlog at its end is no more than the rows that
arrive within that limit; the ladder stops at the first stage that is not.
After the run the same Pattern runs in batch over every generated event,
and the two alert multisets must be equal.
"""

from __future__ import annotations

import collections
import contextlib
import datetime
import json
import os
import subprocess
import sys
import threading
import time

import host
import spans
from harness import pct
from spans import NullTracer
from streamgen import TICK_MS, TRIGGER_MS, WARM_ROWS

HERE = os.path.dirname(os.path.abspath(__file__))
WARM_S = 2 * TRIGGER_MS / 1000
BASE_EPS = 3000
LADDER_EPS = (9000, 18000)
LADDER_S = TRIGGER_MS / 1000
LATENCY_LIMIT_MS = 5000.0
DRAIN_S = 30.0
# RocksDB with changelog checkpointing, as bench_streaming.py runs it
STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}
PHASES = {
    "trigger": "triggerExecution", "add_batch": "addBatch",
    "query_planning": "queryPlanning", "get_batch": "getBatch",
    "latest_offset": "latestOffset", "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def pattern():
    from varpulis_spark.operators.sase import Pattern, step

    return Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="1s",
        emit={
            "user_id": ("a", "user_id"),
            "a_id": ("a", "event_id"),
            "b_id": ("b", "event_id"),
            "done_due_us": ("b", "due_us"),
        },
        partition_by=["user_id"],
        max_runs=50,
        backpressure="evict_oldest",
    )


def schema():
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    return StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType()),
        StructField("due_us", LongType()),
    ])


class Sink:
    """foreachBatch sink: stamps each alert when its batch arrives."""

    def __init__(self):
        self.alerts: list[tuple] = []  # (user_id, a_id, b_id, due_us, seen_us)
        self.batches: list[tuple[float, float]] = []  # (start epoch s, ms)
        self._lock = threading.Lock()

    def __call__(self, df, epoch) -> None:
        start = time.time()
        rows = df.select("user_id", "a_id", "b_id", "done_due_us").collect()
        seen = time.time_ns() // 1000
        with self._lock:
            self.alerts += [(r[0], r[1], r[2], r[3], seen) for r in rows]
            self.batches.append((start, seen / 1000 - start * 1000))


def _progress_times(progress: list[dict]) -> list[tuple[float, int, dict]]:
    """(batch end epoch s, input rows, progress) per reported batch."""
    out = []
    for p in progress:
        start = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=datetime.timezone.utc).timestamp()
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000
        out.append((end, p["numInputRows"], p))
    return sorted(out, key=lambda x: x[0])


def _wait(pred, timeout: float, q) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        if not q.isActive:
            return False
        time.sleep(0.05)
    return False


def _drain(q, timeout: float) -> None:
    done = threading.Event()

    def go():
        try:
            q.processAllAvailable()
        finally:
            done.set()

    threading.Thread(target=go, daemon=True).start()
    _wait(done.is_set, timeout, q)


def run(args, run_dir: str, Session) -> dict:
    import varpulis_spark.streaming as S

    nproc = os.cpu_count()
    spool = os.path.join(run_dir, "spool")
    os.makedirs(spool)
    trigger_s = TRIGGER_MS / 1000
    base_s = max(1, int(args.seconds // trigger_s)) * trigger_s
    # (name, rate, seconds); stage 1 is the measured base stage
    ladder = [("warm", BASE_EPS, WARM_S), ("base", BASE_EPS, base_s)]
    if args.trace:
        ladder.append(("traced", BASE_EPS, base_s))
    ladder += [(f"ladder{r}", r, LADDER_S) for r in LADDER_EPS]
    stats_path = os.path.join(run_dir, "gen.json")
    sess = Session([])
    with host.TreeSampler() as tree:
        setup_s, setup_all = sess.setup(nproc)
        spark = sess.spark
        for k, v in STATE_CONF.items():
            spark.conf.set(k, v)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "streamgen.py"), "--spool", spool,
             "--seed", str(args.seed), "--ladder", ",".join(f"{r}:{s}" for _, r, s in ladder),
             "--stats", stats_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            if gen.stdout.readline().strip() != "ready":
                raise RuntimeError("generator did not start")
            tracer = spans.Tracer(os.path.basename(run_dir), spark) if args.trace else NullTracer()
            logs = os.path.join(run_dir, "eventlog")
            build_log = spans.EventLogRecorder(spark, logs, "build") if args.trace else None
            with build_log or contextlib.nullcontext(), tracer.span("stream.build"):
                src = S.file_source(spark, spool, schema(), order_col="event_id")
                out = S.apply_pattern_streaming(src.watermark("1s"), pattern())
            sink = Sink()
            t_start = time.time()
            q = S.start_query(
                out.df.writeStream.outputMode("append")
                .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
                .trigger(processingTime=f"{TRIGGER_MS} milliseconds")
                .foreachBatch(sink),
                stream=out,
            )
            if not _wait(lambda: q.lastProgress is not None and q.lastProgress["numInputRows"] > 0, 90, q):
                raise RuntimeError(f"warm-up batch did not complete: {q.exception()}")
            stream_start_s = time.time() - t_start
            gen.stdin.write("go\n")
            gen.stdin.flush()
            t0_us = int(gen.stdout.readline().split()[1])
            t0 = t0_us / 1e6
            total_s = sum(s for *_, s in ladder)
            rec = None
            if args.trace:
                # event log over the traced stage only
                t_traced = t0 + WARM_S + base_s
                _wait(lambda: time.time() >= t_traced, total_s + 5, q)
                rec = spans.EventLogRecorder(spark, logs, "traced")
                with rec:
                    _wait(lambda: time.time() >= t_traced + base_s, total_s + 5, q)
            gen.wait(timeout=total_s + 30)
            _drain(q, DRAIN_S)
            progress = [json.loads(p.json) for p in q.recentProgress]
            q.stop()
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
        with open(stats_path) as f:
            gstats = json.load(f)
        expected = batch_alerts(spark, spool)
        sess.stop()

    res = measure(gstats, sink, progress, tree, ladder)
    got = collections.Counter(a[:3] for a in sink.alerts)
    missing = sum((expected - got).values())
    extra = sum((got - expected).values())
    failed = missing + extra
    attempted = max(1, sum(expected.values()))
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": res["wall_s"], "unit": "s"},
        "cpu_s": {"value": res["cpu_s"], "unit": "s"},
        "peak_rss_mb": {"value": tree.peak_bytes(0, res["base_end"]) / 2**20, "unit": "MB"},
        "latency_p50_ms": {"value": res["stages"]["base"]["p50_ms"], "unit": "ms"},
        "latency_p99_ms": {"value": res["stages"]["base"]["p99_ms"], "unit": "ms"},
    }
    extra_m = {
        "alert_p50_ms": metrics["latency_p50_ms"],
        "alert_p99_ms": metrics["latency_p99_ms"],
        "alerts": {"value": res["stages"]["base"]["alerts"], "unit": "count"},
        "engine_busy_s": {"value": res["engine_busy_s"], "unit": "s"},
        "sustained_eps": {"value": res["sustained_eps"], "unit": "1/s"},
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "stream_start_s": {"value": stream_start_s, "unit": "s"},
        "setup_first_s": {"value": setup_all[0], "unit": "s"},
    }
    out = {
        "metrics": metrics,
        "extra": extra_m,
        "attempted": attempted,
        "failed": failed,
        "failures": ({"alerts": f"{missing} missing, {extra} unexpected"}
                     if failed else {}),
        "detail": {"setup_s_all": setup_all, "stages": res["stages"],
                   "progress": progress, "sink_batches": sink.batches,
                   "tree_samples": tree.samples, "t_query": t_start, "t0": t0},
    }
    if args.trace:
        layers = stream_layers(progress, sink, gstats, res, spans.EventLog(rec.path),
                               spans.EventLog(build_log.path), tracer.spans)
        out["extra"] = {**out["extra"], **metrics}
        out["metrics"] = spans.as_metrics(layers)
    return out


def batch_alerts(spark, spool: str) -> collections.Counter:
    """The alert multiset of the same Pattern run in batch over every event
    the generator wrote."""
    from varpulis_spark import Stream

    df = spark.read.schema(schema()).parquet(spool)
    out = Stream(df, ts_col="ts", order_col="event_id").pattern(pattern()).df
    return collections.Counter(tuple(r) for r in out.select("user_id", "a_id", "b_id").collect())


def measure(gstats: dict, sink: Sink, progress: list[dict], tree, ladder) -> dict:
    """Per-stage latency and backlog, the wall time and CPU from the base
    stage to the end of the ladder, the engine's busy time in that span,
    and the sustained rate."""
    ticks = gstats["ticks"]
    tick_us = TICK_MS * 1000
    batches = _progress_times(progress)
    done = []  # (batch end, cumulative rows processed)
    acc = 0
    for end, rows, _ in batches:
        acc += rows
        done.append((end, acc))

    def processed_by(t: float) -> int:
        return max((n for e, n in done if e <= t), default=0)

    def written_by(t_us: float) -> int:
        return WARM_ROWS + sum(
            k["rows"] for k in ticks if k["due_us"] + k["late_ms"] * 1000 <= t_us)

    stages = {}
    for i, (name, rate, _) in enumerate(ladder):
        mine = [k for k in ticks if k["stage"] == i]
        lo, hi = mine[0]["due_us"], mine[-1]["due_us"] + tick_us
        lat = [(seen - due) / 1000 for *_, due, seen in sink.alerts if lo <= due < hi]
        backlog = written_by(hi) - processed_by(hi / 1e6)
        p99 = pct(lat, 0.99)
        stages[name] = {
            "rate": rate, "alerts": len(lat), "p50_ms": pct(lat, 0.5), "p99_ms": p99,
            "backlog_rows_end": backlog,
            "sustained": bool(lat) and p99 <= LATENCY_LIMIT_MS
            and backlog <= rate * LATENCY_LIMIT_MS / 1000,
        }
    sustained = 0.0
    for name, s in list(stages.items())[1:]:
        if not s["sustained"]:
            break
        sustained = s["rate"]

    t_begin = next(k for k in ticks if k["stage"] == 1)["due_us"] / 1e6
    # the events after the warm-up are rows (first, need] of the stream
    first = WARM_ROWS + sum(k["rows"] for k in ticks if k["stage"] == 0)
    need = WARM_ROWS + sum(k["rows"] for k in ticks)
    t_end = next((e for e, n in done if n >= need), batches[-1][0] if batches else t_begin)
    base = first + sum(k["rows"] for k in ticks if k["stage"] == 1)
    base_end = next((e for e, n in done if n >= base), t_end)
    # each batch's duration weighed by its share of those rows: a late
    # warm-up batch that takes in a base tick adds only that share
    busy_ms = 0.0
    prev = 0
    for (_, _, p), (_, n) in zip(batches, done):
        if n > prev:
            share = max(0, min(n, need) - max(prev, first)) / (n - prev)
            busy_ms += share * p["durationMs"].get("triggerExecution", 0)
        prev = n
    # spool files not yet processed when the last stage ends
    cum = WARM_ROWS
    left = processed_by((ticks[-1]["due_us"] + tick_us) / 1e6)
    backlog_files = 0
    for k in ticks:
        cum += k["rows"]
        backlog_files += cum > left
    at_base = [k for k in ticks if ladder[k["stage"]][1] == BASE_EPS and k["stage"] > 0]
    return {
        "stages": stages,
        "base_window": (at_base[0]["due_us"] / 1e6, at_base[-1]["due_us"] / 1e6 + tick_us / 1e6),
        "sustained_eps": sustained,
        "wall_s": t_end - t_begin,
        "engine_busy_s": busy_ms / 1000,
        "base_end": base_end,
        "cpu_s": tree.cpu_at(t_end) - tree.cpu_at(t_begin),
        "backlog_files_end": backlog_files,
    }


def stream_layers(progress, sink, gstats, res, log, build_log, span_list) -> dict:
    # the batches that started inside the base-rate stages
    lo, hi = res["base_window"]
    data = [p for end, _, p in _progress_times(progress)
            if lo <= end - p["durationMs"].get("triggerExecution", 0) / 1000 < hi]
    out = {
        f"streaming.{k}_ms_p50": pct([p["durationMs"].get(v, 0) for p in data], 0.5)
        for k, v in PHASES.items()
    }
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    out.update({
        "streaming.batches": len(data),
        "streaming.batch_rows_p50": pct([p["numInputRows"] for p in data], 0.5),
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.state_commit_ms_p50": pct([o.get("commitTimeMs", 0) for o in ops], 0.5),
        "streaming.backlog_files_end": res["backlog_files_end"],
        "sinks.foreach_batch_ms_p50": pct([ms for t, ms in sink.batches if lo <= t < hi], 0.5),
        "gen.late_ms_p99": pct([k["late_ms"] for k in gstats["ticks"]], 0.99),
        "stream.build_s": sum(s["end"] - s["start"] for s in span_list if s["name"] == "stream.build"),
        "stream.build_jobs": spans.layer_totals(build_log)["jobs"],
        "trace.overhead_frac": res["stages"]["traced"]["p50_ms"] / res["stages"]["base"]["p50_ms"] - 1,
    })
    tot = spans.layer_totals(log)
    out.update(spans.engine_layers(tot))
    out.update(spans.pykernel_layers("cep", tot))
    return out
