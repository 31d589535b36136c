"""Structured Streaming parity tests: the same operator surface produces
the same results in micro-batch streaming as in batch.

Harness: the sf0.001 events table is re-written as several ts-ordered
parquet files; a file streaming source with maxFilesPerTrigger=1 replays
them as micro-batches (the `.evt` timed-replay analog, event_file.rs:1-26),
`availableNow` drains everything, and a memory sink collects the output.
"""

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from varpulis_spark import Stream
from varpulis_spark.operators import aggregates as A
from varpulis_spark.operators.sase import Pattern, step
from varpulis_spark import streaming as S


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 ts-ordered files (micro-batch replay)."""
    base = str(tmp_path_factory.mktemp("replay"))
    df = Stream.events(spark, sf_dir).df.orderBy("ts", "event_id")
    rows = df.collect()
    n = len(rows)
    chunk = (n + 3) // 4
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, df.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(base, f"f{i}"))
    # flatten: move part files into one dir so the source sees 4 files
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    k = 0
    for i in range(4):
        d = os.path.join(base, f"f{i}")
        if not os.path.isdir(d):
            continue
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"{k:02d}.parquet")
                shutil.copy(os.path.join(d, f), dst)
                # distinct mtimes: FileStreamSource orders batches by file
                # modification time; identical stamps make replay order
                # nondeterministic.
                os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
                k += 1
    return flat


def test_streaming_filter_emit(spark, sf_dir, replay_dir):
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    assert src.df.isStreaming
    out = src.where(F.col("value") > 150).emit(
        "HighValue", event_id=F.col("event_id"), value=F.col("value")
    )
    S.run_to_memory(out, "hv_stream")
    got = {r.event_id for r in spark.sql("SELECT * FROM hv_stream").collect()}
    exp = {
        r.event_id
        for r in Stream.events(spark, sf_dir).where(F.col("value") > 150).df.collect()
    }
    assert got == exp


def test_streaming_tumbling_agg_matches_batch(spark, sf_dir, replay_dir):
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = (
        src.watermark("10m")
        .partition_by("user_id")
        .window("1h")
        .aggregate(n=A.count(), total=A.sum("value"))
    )
    S.run_to_memory(out, "tumb_stream")
    got = {
        (r.user_id, r.window_start, r.n, round(r.total, 6))
        for r in spark.sql("SELECT * FROM tumb_stream").collect()
    }
    exp = {
        (r.user_id, r.window_start, r.n, round(r.total, 6))
        for r in (
            Stream.events(spark, sf_dir)
            .partition_by("user_id")
            .window("1h")
            .aggregate(n=A.count(), total=A.sum("value"))
            .df.collect()
        )
    }
    # append mode emits only watermark-closed windows: subset of batch, and
    # everything emitted must be byte-identical to the batch result
    assert got <= exp
    # append mode withholds windows not yet passed by the final watermark
    # (the last replay file's span); ts-ordered replay closes the rest.
    assert len(got) >= len(exp) * 0.7


def test_streaming_sase_matches_batch(spark, sf_dir, replay_dir):
    schema = Stream.events(spark, sf_dir).df.schema
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="24h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
    )
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.apply_pattern_streaming(src.partition_by("user_id"), p)
    S.run_to_memory(out, "sase_stream")
    got = {
        (r.user_id, r.a_id, r.b_id)
        for r in spark.sql("SELECT * FROM sase_stream").collect()
    }
    exp = {
        (r.user_id, r.a_id, r.b_id)
        for r in Stream.events(spark, sf_dir).partition_by("user_id").pattern(p).df.collect()
    }
    assert got == exp


def test_timer_source_constructs(spark):
    s = S.timer_source(spark, "5s")
    assert s.df.isStreaming
    assert set(s.df.columns) == {"ts", "tick", "event_type"}


def test_streaming_enrich_stream_static(spark, sf_dir, replay_dir):
    """.enrich in streaming = stream-static broadcast join; the dimension
    is re-read per micro-batch (the reference's TTL-cache refresh,
    EnrichConfig engine/types.rs:248-263)."""
    from varpulis_spark.engine import load_table

    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=2)
    dim = spark.createDataFrame(
        [(u, f"segment_{u % 3}") for u in range(20)], "u long, segment string"
    )
    out = src.enrich(dim, key="user_id", dim_key="u", fields=["segment"])
    S.run_to_memory(out, "enrich_stream")
    got = spark.sql("SELECT * FROM enrich_stream").collect()
    assert len(got) == Stream.events(spark, sf_dir).count()
    assert all(r.segment == f"segment_{r.user_id % 3}" for r in got)


def test_streaming_merge(spark, sf_dir, replay_dir):
    from varpulis_spark.stream import merge

    schema = Stream.events(spark, sf_dir).df.schema
    a = S.file_source(spark, replay_dir, schema).of_type("purchase")
    b = S.file_source(spark, replay_dir, schema).of_type("error")
    out = merge(a, b)
    S.run_to_memory(out, "merge_stream")
    got = spark.sql("SELECT count(*) c FROM merge_stream").collect()[0].c
    exp = (
        Stream.events(spark, sf_dir)
        .where(F.col("event_type").isin("purchase", "error"))
        .count()
    )
    assert got == exp


def test_streaming_count_window(spark, sf_dir, replay_dir):
    """Stateful count windows across micro-batch boundaries must equal the
    batch count-window result (complete windows only)."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.count_window_streaming(
        src.partition_by("user_id"), 20,
        {"n": ("count", None), "total": ("sum", "value")},
    )
    S.run_to_memory(out, "cw_stream")
    got = sorted(
        (r.user_id, r.window_id, r.n, round(r.total, 6))
        for r in spark.sql("SELECT * FROM cw_stream").collect()
    )
    exp = sorted(
        (r.user_id, int(r.window_id), r.n, round(r.total, 6))
        for r in (
            Stream.events(spark, sf_dir)
            .partition_by("user_id")
            .window(20)
            .aggregate(n=A.count(), total=A.sum("value"))
            .df.select("user_id", "window_id", "n", "total")
            .collect()
        )
    )
    assert got == exp and len(got) > 0


def test_streaming_limit(spark, sf_dir, replay_dir):
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.limit_streaming(src.partition_by("user_id"), 5)
    S.run_to_memory(out, "lim_stream")
    got = spark.sql("SELECT user_id, count(*) c FROM lim_stream GROUP BY 1").collect()
    assert all(r.c == 5 for r in got) and len(got) > 0


def test_streaming_sliding_count_window(spark, sf_dir, replay_dir):
    """Sliding count window parity: streaming (size=50, slide=25) must
    reproduce the batch window ids and aggregates exactly (window.rs:
    362-444 sliding CountWindow)."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.count_window_streaming(
        src.partition_by("user_id"), 50,
        {"n": ("count", None), "total": ("sum", "value")},
        slide=25,
    )
    S.run_to_memory(out, "scw_stream")
    got = sorted(
        (r.user_id, r.window_id, r.n, round(r.total, 6))
        for r in spark.sql("SELECT * FROM scw_stream").collect()
    )
    exp = sorted(
        (r.user_id, int(r.window_id), r.n, round(r.total, 6))
        for r in (
            Stream.events(spark, sf_dir)
            .partition_by("user_id")
            .window(50, sliding=25)
            .aggregate(n=A.count(), total=A.sum("value"))
            .df.select("user_id", "window_id", "n", "total")
            .collect()
        )
    )
    assert got == exp and len(got) > 0


def test_streaming_windowed_trend_aggregate_matches_batch(
    spark, sf_dir, replay_dir
):
    """Streaming WINDOWED trend_aggregate (pane composition, VERDICT r6
    task 2): the same `.window("6h").trend_aggregate(...)` program text on
    a streaming source must reproduce the batch pane results — each
    (key, pane)'s final running row (max n_events) equals the batch
    aggregate, on both the closed-form and predicate paths, and the
    watermarked form (pane-state timeout armed) stays correct."""
    from varpulis_spark.streaming import trend_aggregate_windowed_streaming

    schema = Stream.events(spark, sf_dir).df.schema

    def last_rows(table):
        rows = spark.sql(f"SELECT * FROM {table}").collect()
        best = {}
        for r in rows:
            k = (r.user_id, r.window_start)
            if k not in best or r.n_events > best[k].n_events:
                best[k] = r
        return best

    def batch_exp(**kw):
        return {
            (r.user_id, r.window_start): (
                round(r.trend_count, 6), round(r.event_count, 6)
            )
            for r in (
                Stream.events(spark, sf_dir)
                .partition_by("user_id")
                .window("6h")
                .trend_aggregate(**kw)
                .df.collect()
            )
        }

    # closed form (the greta_windowed driver query shape), unified
    # dispatch: same .window().trend_aggregate() text, streaming input
    src = S.file_source(
        spark, replay_dir, schema, max_files_per_trigger=1, order_col="event_id"
    )
    out = src.partition_by("user_id").window("6h").trend_aggregate(
        event_type="purchase"
    )
    S.run_to_memory(out, "taw_stream")
    got = {
        k: (round(r.trend_count, 6), round(r.event_count, 6))
        for k, r in last_rows("taw_stream").items()
    }
    assert got == batch_exp(event_type="purchase") and len(got) > 0

    # watermarked: pane state gets an event-time timeout at window_end;
    # in-order replay means eviction never races arriving pane rows
    rising = lambda cols, i: cols["value"][:i] < cols["value"][i]  # noqa: E731
    src = S.file_source(
        spark, replay_dir, schema, max_files_per_trigger=1, order_col="event_id"
    ).watermark("10 minutes")
    out = trend_aggregate_windowed_streaming(
        src.partition_by("user_id"), "6h", event_type="purchase",
        value_field="value", within="2h", adjacent_vec=rising,
    )
    S.run_to_memory(out, "taw_wm_stream")
    got = {
        k: (round(r.trend_count, 6), round(r.event_count, 6))
        for k, r in last_rows("taw_wm_stream").items()
    }
    exp = batch_exp(
        event_type="purchase", value_field="value", within="2h",
        adjacent_vec=rising,
    )
    assert got == exp and len(got) > 0


def test_streaming_trend_aggregate_matches_batch(spark, sf_dir, replay_dir):
    """Streaming GRETA (incremental DP, state carried across micro-batches)
    must equal batch trend_aggregate on the drained replay: each key's
    final running aggregate (max n_events row) is the batch answer. Runs
    both the within-bounded vectorized-predicate path and the closed-form
    path (VERDICT r3 task 4)."""
    import numpy as np

    from varpulis_spark.operators.greta import trend_aggregate

    schema = Stream.events(spark, sf_dir).df.schema

    def last_rows(table):
        rows = spark.sql(f"SELECT * FROM {table}").collect()
        best = {}
        for r in rows:
            if r.user_id not in best or r.n_events > best[r.user_id].n_events:
                best[r.user_id] = r
        return best

    # within-bounded rising-value trends (vectorized predicate)
    rising = lambda cols, i: cols["value"][:i] < cols["value"][i]  # noqa: E731
    src = S.file_source(
        spark, replay_dir, schema, max_files_per_trigger=1, order_col="event_id"
    )
    out = S.trend_aggregate_streaming(
        src.partition_by("user_id"), event_type="purchase",
        value_field="value", within="6h", adjacent_vec=rising,
    )
    S.run_to_memory(out, "ta_stream")
    got = {
        u: (round(r.trend_count, 6), round(r.event_count, 6), round(r.value_sum, 6))
        for u, r in last_rows("ta_stream").items()
    }
    exp = {
        r.user_id: (
            round(r.trend_count, 6), round(r.event_count, 6), round(r.value_sum, 6)
        )
        for r in trend_aggregate(
            Stream.events(spark, sf_dir).partition_by("user_id"),
            event_type="purchase", value_field="value", within="6h",
            adjacent_vec=rising,
        ).collect()
    }
    assert got == exp and len(got) > 0

    # closed form (no predicate, no within): O(1) state per key
    src = S.file_source(
        spark, replay_dir, schema, max_files_per_trigger=1, order_col="event_id"
    )
    out = S.trend_aggregate_streaming(
        src.partition_by("user_id"), event_type="signup"
    )
    S.run_to_memory(out, "ta_cf_stream")
    got = {
        u: (r.trend_count, r.event_count)
        for u, r in last_rows("ta_cf_stream").items()
    }
    exp = {
        r.user_id: (r.trend_count, r.event_count)
        for r in trend_aggregate(
            Stream.events(spark, sf_dir).partition_by("user_id"),
            event_type="signup",
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_circuit_breaker_state_machine():
    """Closed → Open after N consecutive failures; Open rejects; after the
    reset timeout one half-open probe; probe success closes, probe failure
    reopens with a fresh timer (circuit_breaker.rs:6-12)."""
    now = [0.0]
    cb = S.CircuitBreaker(failure_threshold=3, reset_timeout_s=30.0, clock=lambda: now[0])
    for _ in range(2):
        assert cb.allow()
        cb.record(False)
    assert cb.state == "closed"  # 2 < threshold
    assert cb.allow()
    cb.record(False)  # 3rd consecutive failure
    assert cb.state == "open" and not cb.allow()
    now[0] = 29.9
    assert not cb.allow()
    now[0] = 30.0
    assert cb.allow() and cb.state == "half_open"  # the probe
    cb.record(False)  # failed probe → reopen, timer restarts
    assert cb.state == "open" and not cb.allow()
    now[0] = 59.9
    assert not cb.allow()
    now[0] = 60.0
    assert cb.allow()
    cb.record(True)
    assert cb.state == "closed" and cb.allow()
    # success resets the consecutive count
    cb.record(False)
    cb.record(False)
    assert cb.state == "closed"


def test_resilient_sink_dlq_and_recovery(spark, sf_dir, replay_dir, tmp_path):
    """Flaky sink through 4 replayed micro-batches with threshold 2:
    batches 0-1 fail (DLQ'd, circuit opens), batch 2 is rejected while
    open (DLQ'd untouched), clock advance lets batch 3 probe and deliver.
    No batch is dropped: delivered + DLQ'd rows == source rows."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    now = [0.0]
    breaker = S.CircuitBreaker(failure_threshold=2, reset_timeout_s=30.0, clock=lambda: now[0])
    delivered = []

    def sink(df, epoch):
        if epoch <= 1:
            raise RuntimeError("downstream unavailable")
        delivered.append((epoch, df.count()))
        if epoch == 2:  # batch 2 must never reach the sink (circuit open)
            raise AssertionError("circuit-open batch reached the sink")

    dlq = os.path.join(str(tmp_path), "dlq")
    wrapped = S.resilient_sink_fn(
        sink, dlq, connector="flaky", breaker=breaker
    )

    def clocked(df, epoch):
        if epoch == 3:
            now[0] = 31.0  # reset timeout elapses before the last batch
        wrapped(df, epoch)

    q = S.foreach_batch(src, clocked)
    q.processAllAvailable()
    q.stop()

    assert [e for e, _ in delivered] == [3]
    rows = S.read_dlq(spark, dlq).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
        assert r.connector == "flaky"
    assert sorted(by_epoch) == [0, 1, 2]
    assert all("downstream unavailable" in r.error for r in by_epoch[0] + by_epoch[1])
    assert all(r.error == "circuit open" for r in by_epoch[2])
    # conservation: every source row was delivered or dead-lettered
    total_src = Stream.events(spark, sf_dir).df.count()
    assert len(rows) + sum(n for _, n in delivered) == total_src
    # payload is replayable JSON carrying the original columns
    import json

    p = json.loads(rows[0].payload)
    assert "event_id" in p and "event_type" in p


def test_streaming_multi_chunk_group_order(spark, tmp_path):
    """A key whose micro-batch spans several Arrow chunks must feed the
    stateful ops in GLOBAL event-time order (ADVICE r3: chunks were sorted
    independently, so cross-chunk scrambles corrupted order-sensitive
    state). Forces ≤8-row chunks and a shuffled 100-row single-key batch;
    limit(5) must return the globally-earliest 5, count windows must match
    batch."""
    import random
    from datetime import datetime, timedelta

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        t0 = datetime(2024, 1, 1)
        rows = [(i, t0 + timedelta(seconds=i), 1, "e", float(i)) for i in range(100)]
        random.Random(3).shuffle(rows)
        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        )
        src_dir = os.path.join(str(tmp_path), "in")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)
        sschema = spark.read.parquet(src_dir).schema

        src = S.file_source(spark, src_dir, sschema)
        out = S.limit_streaming(src.partition_by("user_id"), 5)
        S.run_to_memory(out, "chunk_lim")
        got = sorted(r.event_id for r in spark.sql("SELECT * FROM chunk_lim").collect())
        assert got == [0, 1, 2, 3, 4]

        src = S.file_source(spark, src_dir, sschema)
        out = S.count_window_streaming(
            src.partition_by("user_id"), 20, {"first_id": ("first", "event_id")}
        )
        S.run_to_memory(out, "chunk_cw")
        got = sorted(
            (r.window_id, r.first_id)
            for r in spark.sql("SELECT * FROM chunk_cw").collect()
        )
        assert got == [(w, float(w * 20)) for w in range(5)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_streaming_distinct_matches_batch(spark, sf_dir, replay_dir):
    """Without TTL, streaming distinct equals batch distinct-earliest."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.distinct_streaming(src, "user_id", "event_type")
    S.run_to_memory(out, "dist_stream")
    got = {
        (r.user_id, r.event_type, r.event_id)
        for r in spark.sql("SELECT * FROM dist_stream").collect()
    }
    exp = {
        (r.user_id, r.event_type, r.event_id)
        for r in (
            Stream.events(spark, sf_dir)
            .distinct("user_id", "event_type")
            .select("user_id", "event_type", "event_id")
            .df.collect()
        )
    }
    assert got == exp and len(got) > 0


def test_streaming_distinct_ttl_bounds_state(spark, sf_dir, replay_dir):
    """An event-time-TTL distinct emits AT LEAST the exact-distinct set (a
    key may re-emit after 30m of event-time silence, never less) — the
    state bound trades re-emission for bounded memory, like the
    reference's LRU cap (engine/types.rs:286)."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.distinct_streaming(src, "user_id", "event_type", ttl="30m")
    S.run_to_memory(out, "dist_ttl_stream")
    got = [
        (r.user_id, r.event_type)
        for r in spark.sql("SELECT * FROM dist_ttl_stream").collect()
    ]
    exp = {
        (r.user_id, r.event_type)
        for r in (
            Stream.events(spark, sf_dir)
            .distinct("user_id", "event_type")
            .df.collect()
        )
    }
    assert set(got) == exp  # every distinct key surfaced


def test_streaming_forecast_matches_batch(spark, sf_dir, replay_dir):
    """Streaming forecast (engine pickled into the state store across
    micro-batches) must reproduce the batch operator exactly on replay —
    the PST/Hawkes/conformal state carries over batch boundaries."""
    from varpulis_spark.operators.forecast import forecast

    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(
        spark, replay_dir, schema, max_files_per_trigger=1, order_col="event_id"
    )
    out = S.forecast_streaming(
        src.partition_by("user_id"), ["signup", "purchase"],
        warmup=20, mode="fast",
    )
    S.run_to_memory(out, "fc_stream")
    got = sorted(
        (r.user_id, r.event_id, r.next_step, round(r.completion_prob, 9))
        for r in spark.sql(
            "SELECT user_id, event_id, next_step, completion_prob FROM fc_stream"
        ).collect()
    )
    exp = sorted(
        (r.user_id, r.event_id, r.next_step, round(r.completion_prob, 9))
        for r in forecast(
            Stream.events(spark, sf_dir).partition_by("user_id"),
            ["signup", "purchase"], warmup=20, mode="fast",
        ).select("user_id", "event_id", "next_step", "completion_prob").collect()
    )
    assert got == exp and len(got) > 0


def test_forecast_first_cols_prunes_capture(spark, sf_dir, replay_dir):
    """`first_cols` prunes the __first_* run-start capture in BOTH modes
    (column pruning cannot cross mapInPandas / the state store): the
    selected capture column survives with batch-identical values, unlisted
    ones are absent from the schema."""
    from varpulis_spark.operators.forecast import forecast

    full = forecast(
        Stream.events(spark, sf_dir).partition_by("user_id"),
        ["signup", "purchase"], warmup=20, mode="fast",
    )
    pruned = forecast(
        Stream.events(spark, sf_dir).partition_by("user_id"),
        ["signup", "purchase"], warmup=20, mode="fast",
        first_cols=["value"],
    )
    assert "__first_value" in pruned.columns
    assert "__first_props" not in pruned.columns and "__first_props" in full.columns
    exp = sorted(
        (r.user_id, r.event_id, r["__first_value"])
        for r in full.select("user_id", "event_id", "__first_value").collect()
    )
    got = sorted(
        (r.user_id, r.event_id, r["__first_value"])
        for r in pruned.select("user_id", "event_id", "__first_value").collect()
    )
    assert got == exp and len(got) > 0

    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(
        spark, replay_dir, schema, max_files_per_trigger=1, order_col="event_id"
    )
    sout = S.forecast_streaming(
        src.partition_by("user_id"), ["signup", "purchase"],
        warmup=20, mode="fast", first_cols=["value"],
    )
    assert "__first_value" in sout.df.columns
    assert "__first_props" not in sout.df.columns
    S.run_to_memory(sout, "fc_stream_pruned")
    sgot = sorted(
        (r.user_id, r.event_id, r["__first_value"])
        for r in spark.table("fc_stream_pruned")
        .select("user_id", "event_id", "__first_value").collect()
    )
    assert sgot == exp


def test_streaming_maximal_kleene_matches_batch(spark, sf_dir, replay_dir):
    """kleene_emit='maximal' through the streaming state store: runs whose
    closure spans micro-batches close identically to batch (the buffer
    re-enumerates per batch; match-identity dedupe keeps emission
    incremental)."""
    schema = Stream.events(spark, sf_dir).df.schema
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "bs", kleene="+"),
               step("error", "c")],
        within="48h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "c_id": ("c", "event_id"), "n": ("bs", "__count")},
        kleene_emit="maximal",
    )
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.apply_pattern_streaming(src.partition_by("user_id"), p)
    S.run_to_memory(out, "sase_max_stream")
    got = {
        (r.user_id, r.a_id, r.c_id, r.n)
        for r in spark.sql("SELECT * FROM sase_max_stream").collect()
    }
    exp = {
        (r.user_id, r.a_id, r.c_id, r.n)
        for r in Stream.events(spark, sf_dir).partition_by("user_id").pattern(p).df.collect()
    }
    assert got == exp and len(exp) > 0


def test_streaming_trailing_maximal_prefixes(spark, sf_dir, replay_dir):
    """Trailing closure (CompleteAndContinue): per-prefix matches arrive
    incrementally across micro-batches without duplicates."""
    schema = Stream.events(spark, sf_dir).df.schema
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "bs", kleene="+")],
        within="48h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "n": ("bs", "__count")},
        kleene_emit="maximal",
    )
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = S.apply_pattern_streaming(src.partition_by("user_id"), p)
    S.run_to_memory(out, "sase_max_trail")
    rows = spark.sql("SELECT * FROM sase_max_trail").collect()
    got = sorted((r.user_id, r.a_id, r.n) for r in rows)
    assert len(got) == len(set(got))  # no duplicate emissions
    exp = sorted(
        (r.user_id, r.a_id, r.n)
        for r in Stream.events(spark, sf_dir).partition_by("user_id").pattern(p).df.collect()
    )
    assert got == exp


def test_late_side_output_routing(spark, tmp_path):
    """Streaming `.allowed_lateness` side output (engine/mod.rs:2330-2376):
    the router tracks wm = max_ts − out_of_order across micro-batches and
    routes events older than wm − allowed_lateness to the late sink
    BEFORE processing; everything else flows on-time."""
    import json as _json
    import time as _time

    d = tmp_path / "replay"
    d.mkdir()
    base = "2026-01-01T00:"

    def write(name, rows):
        with open(d / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _time.sleep(0.05)  # distinct mod-times keep replay order stable

    # batch 1: ts 100s and 200s -> wm = 200 - 10 = 190s
    write("0001.json", [
        {"event_id": 1, "ts": base + "01:40", "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": base + "03:20", "event_type": "a", "value": 2.0},
    ])
    # batch 2: 150s (late vs 190 but within 60s lateness) and 50s (beyond)
    write("0002.json", [
        {"event_id": 3, "ts": base + "02:30", "event_type": "a", "value": 3.0},
        {"event_id": 4, "ts": base + "00:50", "event_type": "a", "value": 4.0},
    ])

    schema = "event_id long, ts timestamp, event_type string, value double"
    src = S.file_source(spark, str(d), schema, fmt="json",
                        max_files_per_trigger=1)
    on_time_ids, late_ids = [], []
    q, router = S.late_side_output(
        src,
        on_time=lambda df, e: on_time_ids.extend(r.event_id for r in df.collect()),
        late=lambda df, e: late_ids.extend(r.event_id for r in df.collect()),
        out_of_order="10s",
        allowed_lateness="60s",
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(on_time_ids) == [1, 2, 3]
    assert late_ids == [4]
    assert router.n_late == 1 and router.n_on_time == 3
    # wm ended at max_ts(200s) - 10s = 190s
    assert router.wm_us == (3 * 60 + 20 - 10) * 1_000_000 + (
        int(spark.sql("select unix_micros(timestamp '2026-01-01 00:00:00')")
            .collect()[0][0]))


def test_streaming_windowed_join_matches_batch(spark, sf_dir, replay_dir):
    """Stream-stream windowed equi-join (join.rs:18-71 → withWatermark both
    sides + equi-key + timestamp±interval band). Micro-batch replay must
    produce the exact pair set the batch lowering produces, including pairs
    that span micro-batch boundaries (state carries the open window)."""
    schema = Stream.events(spark, sf_dir).df.schema
    p = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("purchase")
    e = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("error")
    out = p.join(e, on="user_id", window="10m", self_alias="p", other_alias="e")
    assert out.df.isStreaming
    S.run_to_memory(out, "join_stream")
    got = {
        (r.user_id, r.p_event_id, r.e_event_id)
        for r in spark.table("join_stream").collect()
    }

    bp = Stream.events(spark, sf_dir, "purchase")
    be = Stream.events(spark, sf_dir, "error")
    bout = bp.join(be, on="user_id", window="10m", self_alias="p", other_alias="e")
    want = {
        (r.user_id, r.p_event_id, r.e_event_id)
        for r in bout.df.select("user_id", "p_event_id", "e_event_id").collect()
    }
    assert want, "batch join produced no pairs — fixture too small"
    assert got == want


def test_streaming_join_requires_window(spark, sf_dir, replay_dir):
    schema = Stream.events(spark, sf_dir).df.schema
    p = S.file_source(spark, replay_dir, schema).of_type("purchase")
    e = S.file_source(spark, replay_dir, schema).of_type("error")
    with pytest.raises(ValueError, match="window"):
        p.join(e, on="user_id")


def test_streaming_join_state_is_bounded(spark, sf_dir, replay_dir):
    """The join's state must EVICT as the watermark advances (the
    JoinBuffer-expiry analog, join.rs:104-121): Spark only derives the
    state watermark when the band condition is in timestamp±interval form —
    a regression to unix_micros arithmetic would silently make join state
    grow without bound at scale."""
    schema = Stream.events(spark, sf_dir).df.schema
    p = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("purchase")
    e = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("error")
    j = p.join(e, on="user_id", window="10m", self_alias="p", other_alias="e")
    q = (j.df.writeStream.format("memory").queryName("jstate_guard")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    ops = [pr["stateOperators"][0] for pr in q.recentProgress
           if pr.get("stateOperators")]
    assert ops and ops[-1]["operatorName"] == "symmetricHashJoin"
    assert sum(o.get("numRowsRemoved", 0) for o in ops) > 0, (
        "no state eviction: the join's state watermark was not derived "
        "from the band condition"
    )


def test_streaming_three_way_join_matches_batch(spark, sf_dir, replay_dir):
    """Chained (n-way) stream-stream join: Spark permits at most one
    event-time column per join input, so the lowering consolidates after
    every step — strips watermark tags and re-watermarks the tuple's max
    event time — while the exact pairwise bands stay as residual
    predicates (joins.py windowed_join). Micro-batch replay must equal the
    batch pair set exactly."""
    schema = Stream.events(spark, sf_dir).df.schema
    a = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("view")
    b = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("click")
    c = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("view")
    out = a.join(b, on="user_id", window="6h", self_alias="a", other_alias="b", c=c)
    S.run_to_memory(out, "join3_stream")
    got = {
        (r.user_id, r.a_event_id, r.b_event_id, r.c_event_id)
        for r in spark.table("join3_stream").collect()
    }

    ba = Stream.events(spark, sf_dir, "view")
    bb = Stream.events(spark, sf_dir, "click")
    bc = Stream.events(spark, sf_dir, "view")
    bout = ba.join(bb, on="user_id", window="6h", self_alias="a", other_alias="b", c=bc)
    want = {
        (r.user_id, r.a_event_id, r.b_event_id, r.c_event_id)
        for r in bout.df.select("user_id", "a_event_id", "b_event_id", "c_event_id").collect()
    }
    assert len(want) > 10, "fixture produced too few triples"
    assert got == want


def test_vpl_program_runs_on_streaming_source(spark, sf_dir, replay_dir):
    """The same VPL text runs in batch AND streaming: `Stream.pattern` /
    `.distinct` / `.limit` now dispatch to their stateful streaming twins
    on a streaming frame, so `run_program` needs no mode flag. Pattern
    output parity is exact vs the batch run."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
stream Funnel = signup as a
    -> purchase where user_id == a.user_id as b
    .within(24h)
    .emit(user_id: a.user_id, a_id: a.event_id, b_id: b.event_id)
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["Funnel"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.a_id, r.b_id) for r in spark.table("vpl_stream").collect()}

    bout = run_program(src_text, Stream.events(spark, sf_dir))["Funnel"]
    want = {(r.user_id, r.a_id, r.b_id) for r in bout.collect()}
    assert want and got == want


def test_stream_distinct_limit_dispatch_streaming(spark, sf_dir, replay_dir):
    """`.distinct(col)` / `.limit(n)` on streaming frames run the stateful
    twins through the SAME fluent API as batch."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    d = src.distinct("user_id")
    assert d.df.isStreaming
    S.run_to_memory(d, "disp_distinct")
    got_users = sorted(r.user_id for r in spark.table("disp_distinct").collect())
    want_users = sorted(
        r.user_id for r in
        Stream.events(spark, sf_dir).df.select("user_id").distinct().collect()
    )
    assert got_users == want_users

    lim = src.partition_by("user_id").limit(3)
    assert lim.df.isStreaming
    S.run_to_memory(lim, "disp_limit")
    rows = spark.table("disp_limit").collect()
    from collections import Counter
    per_user = Counter(r.user_id for r in rows)
    assert per_user and max(per_user.values()) <= 3


def test_vpl_join_source_on_streaming(spark, sf_dir, replay_dir):
    """`stream J = join(A: ..., B: ...).on(...).window(...)` in VPL runs on
    a streaming input: both sides watermarked, interval band (state
    derivable), output equals the batch lowering exactly."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
stream Views = view
stream Clicks = click
stream J = join(Views, Clicks)
    .on(Views.user_id == Clicks.user_id)
    .window(30m)
    .select(uid: Views.user_id, v_id: Views.event_id, c_id: Clicks.event_id)
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["J"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_join_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.uid, r.v_id, r.c_id) for r in spark.table("vpl_join_stream").collect()}

    bout = run_program(src_text, Stream.events(spark, sf_dir))["J"]
    want = {(r.uid, r.v_id, r.c_id) for r in bout.collect()}
    assert want and got == want


def test_vpl_count_window_on_streaming(spark, sf_dir, replay_dir):
    """VPL `.window(n).aggregate(...)` (count window) on a streaming
    source lowers to the stateful counter twin — same program text, same
    complete-window results as batch."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
stream CW = view
    .partition_by(user_id)
    .window(5)
    .aggregate(n: count(), total: sum(value))
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["CW"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_cw")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(
        (r.user_id, int(r.window_id), r.n, round(r.total, 6))
        for r in spark.table("vpl_cw").collect()
    )
    want = sorted(
        (r.user_id, int(r.window_id), r.n, round(r.total, 6))
        for r in run_program(src_text, Stream.events(spark, sf_dir))["CW"]
        .select("user_id", "window_id", "n", "total").collect()
    )
    assert want and got == want


def test_streaming_kleene_matches_batch(spark, sf_dir, replay_dir):
    """Kleene closure through the streaming NFA: exhaustive combination
    enumeration across micro-batch boundaries must equal the batch result
    (the partial-match state carries open runs between batches)."""
    schema = Stream.events(spark, sf_dir).df.schema
    p = Pattern(
        steps=[
            step("signup", "a"),
            step("purchase", "b", kleene="+"),
            step("error", "c"),
        ],
        within="24h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "n_buys": ("b", "__count"), "c_id": ("c", "event_id")},
    )
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = src.partition_by("user_id").pattern(p)  # auto-dispatch
    assert out.df.isStreaming
    S.run_to_memory(out, "kleene_stream")
    got = sorted(
        (r.user_id, r.a_id, r.n_buys, r.c_id)
        for r in spark.table("kleene_stream").collect()
    )
    exp = sorted(
        (r.user_id, r.a_id, r.n_buys, r.c_id)
        for r in Stream.events(spark, sf_dir).partition_by("user_id").pattern(p).df.collect()
    )
    assert exp and got == exp


def test_streaming_negation_matches_batch(spark, sf_dir, replay_dir):
    """Negation (`A -> not Error -> B`) through the streaming NFA: a veto
    event in a LATER micro-batch must still kill the run before the
    completing event confirms it — requires a watermark so emission defers
    until no in-window veto can still arrive."""
    from varpulis_spark.operators.sase import not_step

    schema = Stream.events(spark, sf_dir).df.schema
    p = Pattern(
        steps=[step("signup", "a"), not_step("error"), step("purchase", "b")],
        within="24h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
    )
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = src.watermark("1h").partition_by("user_id").pattern(p)
    assert out.df.isStreaming
    S.run_to_memory(out, "neg_stream")
    got = sorted(
        (r.user_id, r.a_id, r.b_id) for r in spark.table("neg_stream").collect()
    )
    exp = sorted(
        (r.user_id, r.a_id, r.b_id)
        for r in Stream.events(spark, sf_dir).partition_by("user_id").pattern(p).df.collect()
    )
    assert exp and got == exp


def test_streaming_session_window_matches_batch(spark, sf_dir, replay_dir):
    """Session windows stream natively (F.session_window + watermark);
    every emitted (closed) session must be byte-identical to the batch
    session result, and most sessions must close under ts-ordered replay."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = (
        src.watermark("10m")
        .partition_by("user_id")
        .window(session="30m")
        .aggregate(n=A.count(), total=A.sum("value"))
    )
    S.run_to_memory(out, "sess_stream", output_mode="append")
    got = {
        (r.user_id, r.window_start, r.n, round(r.total, 6))
        for r in spark.table("sess_stream").collect()
    }
    exp = {
        (r.user_id, r.window_start, r.n, round(r.total, 6))
        for r in (
            Stream.events(spark, sf_dir)
            .partition_by("user_id")
            .window(session="30m")
            .aggregate(n=A.count(), total=A.sum("value"))
            .df.collect()
        )
    }
    assert got <= exp
    assert len(got) >= len(exp) * 0.7


def test_streaming_sliding_window_matches_batch(spark, sf_dir, replay_dir):
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = (
        src.watermark("10m")
        .window("2h", sliding="1h")
        .aggregate(n=A.count(), mx=A.max("value"))
    )
    S.run_to_memory(out, "slide_stream", output_mode="append")
    got = {
        (r.window_start, r.n, round(r.mx, 6))
        for r in spark.table("slide_stream").collect()
    }
    exp = {
        (r.window_start, r.n, round(r.mx, 6))
        for r in (
            Stream.events(spark, sf_dir)
            .window("2h", sliding="1h")
            .aggregate(n=A.count(), mx=A.max("value"))
            .df.collect()
        )
    }
    assert got <= exp
    assert len(got) >= len(exp) * 0.7


def test_hvac_vpl_program_on_streaming(spark, sf_dir, replay_dir):
    """The README HVAC program shape (filter+emit, windowed zone stats,
    SASE rapid-swing) runs on a STREAMING source with no text changes:
    windowed aggregates pick up the reference's 0s default watermark,
    patterns auto-partition and dispatch to the streaming NFA."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
stream HighValue = purchase
    .where(value > 150)
    .emit(alert: "HIGH", user: user_id, v: value)

stream UserStats = purchase
    .partition_by(user_id)
    .window(1h)
    .aggregate(n: count(), avg_v: avg(value))

stream Swing = purchase as t1
    -> purchase where user_id == t1.user_id and value > t1.value + 50 as t2
    .within(6h)
    .emit(user: t1.user_id, low: t1.value, high: t2.value)
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    res = run_program(src_text, sstream)
    bres = run_program(src_text, Stream.events(spark, sf_dir))

    def drain(df, name):
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.table(name)

    hv = drain(res["HighValue"], "hvac_hv")
    got_hv = sorted((r.user, round(r.v, 6)) for r in hv.collect())
    want_hv = sorted((r.user, round(r.v, 6)) for r in bres["HighValue"].collect())
    assert want_hv and got_hv == want_hv

    us = drain(res["UserStats"], "hvac_us")
    got_us = {(r.user_id, r.window_start, r.n, round(r.avg_v, 6)) for r in us.collect()}
    want_us = {(r.user_id, r.window_start, r.n, round(r.avg_v, 6))
               for r in bres["UserStats"].collect()}
    assert got_us <= want_us and len(got_us) >= len(want_us) * 0.7

    sw = drain(res["Swing"], "hvac_sw")
    got_sw = sorted((r.user, round(r.low, 6), round(r.high, 6)) for r in sw.collect())
    want_sw = sorted((r.user, round(r.low, 6), round(r.high, 6))
                     for r in bres["Swing"].collect())
    assert got_sw == want_sw


def test_vpl_forecast_on_streaming(spark, tmp_path):
    """VPL `.forecast` on a streaming source dispatches to the stateful
    twin: the PST trains incrementally (the reference's native mode) and
    the emitted probabilities match the batch run on the same sequence."""
    import json as _json
    import os as _os
    import time as _time

    from varpulis_spark.sources import load_evt
    from varpulis_spark.vpl.compiler import run_program

    evts = "\n".join(['Login { user: "u1" }', 'Purchase { user: "u1" }'] * 20)
    batch_stream = Stream(load_evt(spark, evts), ts_col="ts", order_col="event_id")
    prog = """
stream F = Login as a
    -> Purchase as b
    .partition_by(user)
    .forecast(confidence: 0.0, warmup: 10, mode: "fast")
    .emit(user: user, p: forecast_probability)
"""
    want = sorted(round(r.p, 9) for r in run_program(prog, batch_stream)["F"].collect())

    # replay the same events through a file stream (2 micro-batches)
    d = tmp_path / "fc_src"
    d.mkdir()
    bdf = batch_stream.df
    rows = bdf.orderBy("ts", "event_id").collect()
    half = len(rows) // 2
    for i, part in enumerate((rows[:half], rows[half:])):
        p = str(tmp_path / f"w{i}")
        spark.createDataFrame(part, bdf.schema).coalesce(1).write.mode("overwrite").parquet(p)
        src = [f for f in _os.listdir(p) if f.endswith(".parquet")][0]
        dst = str(d / f"{i}.parquet")
        import shutil as _sh
        _sh.copy(_os.path.join(p, src), dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    sstream = S.file_source(spark, str(d), bdf.schema, max_files_per_trigger=1)
    out = run_program(prog, sstream)["F"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_fc")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(round(r.p, 9) for r in spark.table("vpl_fc").collect())
    assert want and got == want


def test_streaming_score_and_text_stats(spark, sf_dir, replay_dir, tmp_path):
    """Stateless per-row families stream natively through the same code:
    `.score` (ONNX mapInPandas) and the text-stats columns produce
    byte-identical rows on a streaming frame."""
    import numpy as np

    from varpulis_spark.operators import onnx_mini as OM
    from varpulis_spark.operators.score import score
    from varpulis_spark.operators import text as T

    rng = np.random.default_rng(7)
    w1 = rng.normal(size=(2, 4)).astype(np.float32)
    b1 = rng.normal(size=(4,)).astype(np.float32)
    w2 = rng.normal(size=(4, 1)).astype(np.float32)
    b2 = rng.normal(size=(1,)).astype(np.float32)
    model = str(tmp_path / "m.onnx")
    with open(model, "wb") as f:
        f.write(OM.make_mlp_onnx(w1, b1, w2, b2))

    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=2)
    scored = score(src.df.withColumn("v2", F.col("value") * 2),
                   model, inputs=["value", "v2"], output="risk")
    assert scored.isStreaming
    q = (scored.select("event_id", "risk").writeStream.format("memory")
         .queryName("score_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.event_id, round(r.risk, 9)) for r in spark.table("score_stream").collect()}
    bdf = Stream.events(spark, sf_dir).df.withColumn("v2", F.col("value") * 2)
    want = {(r.event_id, round(r.risk, 9))
            for r in score(bdf, model, inputs=["value", "v2"], output="risk")
            .select("event_id", "risk").collect()}
    assert want and got == want

    # text stats: pure F.* columns — the same expressions stream untouched
    docs_schema = "doc_id long, text string"
    rows = [(i, f"hello world the and doc {i} some text!") for i in range(20)]
    import os as _os
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(rows, docs_schema).coalesce(1).write.mode(
        "overwrite").parquet(str(tmp_path / "w"))
    src_f = [f for f in _os.listdir(tmp_path / "w") if f.endswith(".parquet")][0]
    import shutil as _sh
    _sh.copy(str(tmp_path / "w" / src_f), str(d / "0.parquet"))
    sdocs = spark.readStream.schema(docs_schema).parquet(str(d))
    out = T.with_text_stats(sdocs).select("doc_id", "n_tokens", "quality")
    assert out.isStreaming
    q2 = (out.writeStream.format("memory").queryName("text_stream")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination()
    got_t = {(r.doc_id, r.n_tokens, round(r.quality, 9))
             for r in spark.table("text_stream").collect()}
    want_t = {(r.doc_id, r.n_tokens, round(r.quality, 9))
              for r in T.with_text_stats(spark.createDataFrame(rows, docs_schema))
              .select("doc_id", "n_tokens", "quality").collect()}
    assert got_t == want_t


def test_streaming_exact_dedup(spark, sf_dir, replay_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark on the md5
    fingerprint): first occurrence per duplicate text survives, state
    holds 32-char keys. The replay corpus spans < the watermark horizon,
    so the result must equal the batch distinct-key count exactly."""
    from varpulis_spark.operators.dedup import exact_dedup_streaming

    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    # dedupe on (user_id, event_type) — exercises the fingerprint path via
    # the string event_type column
    out = exact_dedup_streaming(
        src.df, on=["user_id", "event_type"], ts_col="ts", watermark="365 days"
    )
    assert out.isStreaming
    q = (out.select("user_id", "event_type").writeStream.format("memory")
         .queryName("dedup_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.user_id, r.event_type) for r in spark.table("dedup_stream").collect())
    want = sorted(
        (r.user_id, r.event_type)
        for r in Stream.events(spark, sf_dir).df
        .select("user_id", "event_type").distinct().collect()
    )
    assert got == want


def test_streaming_join_property_random_sets(spark, tmp_path):
    """Property check: for random event sets (random keys, random times,
    random window), the streaming join's pair set equals the batch join's —
    including boundary-exact pairs (|dt| == window) and cross-batch pairs."""
    import random as _random

    rng = _random.Random(20260814)
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    for trial in range(3):
        n = 40
        win_s = rng.choice([60, 300, 900])
        rows = []
        for i in range(n):
            rows.append((
                i,
                t0 + timedelta(seconds=rng.randrange(0, 3 * win_s)),
                rng.randrange(0, 5),          # key: few users → collisions
                "a" if i % 2 == 0 else "b",
                float(i),
            ))
        # force some exact-boundary pairs
        rows.append((n, t0, 99, "a", 0.0))
        rows.append((n + 1, t0 + timedelta(seconds=win_s), 99, "b", 1.0))
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
        d = tmp_path / f"prop{trial}"
        d.mkdir()
        import os as _os
        import shutil as _sh
        rows.sort(key=lambda r: r[1])
        half = len(rows) // 2
        for bi, part in enumerate((rows[:half], rows[half:])):
            w = tmp_path / f"prop{trial}_w{bi}"
            spark.createDataFrame(part, schema).coalesce(1).write.mode(
                "overwrite").parquet(str(w))
            src = [f for f in _os.listdir(w) if f.endswith(".parquet")][0]
            dst = str(d / f"{bi}.parquet")
            _sh.copy(str(w / src), dst)
            _os.utime(dst, (1_700_000_000 + bi, 1_700_000_000 + bi))

        s_a = S.file_source(spark, str(d), schema, max_files_per_trigger=1).of_type("a")
        s_b = S.file_source(spark, str(d), schema, max_files_per_trigger=1).of_type("b")
        j = s_a.join(s_b, on="user_id", window=f"{win_s}s",
                     self_alias="x", other_alias="y")
        name = f"prop_join_{trial}"
        S.run_to_memory(j, name)
        got = {(r.user_id, r.x_event_id, r.y_event_id)
               for r in spark.table(name).collect()}

        bdf = spark.createDataFrame(rows, schema)
        b_a = Stream(bdf.filter(F.col("event_type") == "a"), ts_col="ts")
        b_b = Stream(bdf.filter(F.col("event_type") == "b"), ts_col="ts")
        bj = b_a.join(b_b, on="user_id", window=f"{win_s}s",
                      self_alias="x", other_alias="y")
        want = {(r.user_id, r.x_event_id, r.y_event_id) for r in bj.df.collect()}
        assert got == want, f"trial {trial} (win={win_s}s): {got ^ want}"
        # the planted boundary pair must be present (|dt| == window passes)
        assert (99, n, n + 1) in want


def test_vpl_distinct_ttl_on_streaming(spark, sf_dir, replay_dir):
    """VPL `.distinct(field, ttl: d)` on a streaming source lowers to the
    stateful first-seen twin; with a TTL longer than the corpus span the
    output equals batch distinct."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
stream D = view
    .distinct(user_id, ttl: 365d)
    .emit(u: user_id)
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["D"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_distinct")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r.u for r in spark.table("vpl_distinct").collect())
    want = sorted(
        r.user_id for r in Stream.events(spark, sf_dir, "view").df
        .select("user_id").distinct().collect()
    )
    assert got == want


def test_streaming_join_skewed_hot_key(spark, tmp_path):
    """One user owns ~all events on both sides: the join state for that
    key holds everything in-window, pairs = n_a × n_b for the hot key.
    Completes promptly and exactly — hot-key state is bounded by the
    window, not the corpus."""
    import os as _os
    import shutil as _sh
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(150):  # hot key 7: 150 'a' + 150 'b' inside one window
        rows.append((eid, t0 + timedelta(seconds=i), 7, "a", float(i))); eid += 1
        rows.append((eid, t0 + timedelta(seconds=i), 7, "b", float(i))); eid += 1
    for i in range(20):   # background keys
        rows.append((eid, t0 + timedelta(seconds=i), 100 + i, "a", 0.0)); eid += 1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    d = tmp_path / "skewsrc"
    d.mkdir()
    rows.sort(key=lambda r: r[1])
    half = len(rows) // 2
    for bi, part in enumerate((rows[:half], rows[half:])):
        w = tmp_path / f"sw{bi}"
        spark.createDataFrame(part, schema).coalesce(1).write.mode("overwrite").parquet(str(w))
        src = [f for f in _os.listdir(w) if f.endswith(".parquet")][0]
        dst = str(d / f"{bi}.parquet")
        _sh.copy(str(w / src), dst)
        _os.utime(dst, (1_700_000_000 + bi, 1_700_000_000 + bi))

    a = S.file_source(spark, str(d), schema, max_files_per_trigger=1).of_type("a")
    b = S.file_source(spark, str(d), schema, max_files_per_trigger=1).of_type("b")
    j = a.join(b, on="user_id", window="1h", self_alias="x", other_alias="y")
    S.run_to_memory(j, "skew_join")
    n = spark.table("skew_join").count()
    assert n == 150 * 150  # every in-window cross pair for the hot key


def test_vpl_derived_stream_pattern_on_streaming(spark, sf_dir, replay_dir):
    """A pattern over a DERIVED stream (`stream P = Hot as a -> ...`) on a
    streaming input: the stream-reference router resolves to the upstream
    streaming frame and the pattern runs the incremental NFA — parity with
    batch."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
stream Hot = purchase
    .where(value > 50)

stream Repeat = Hot as a
    -> Hot where user_id == a.user_id and value > a.value as b
    .within(24h)
    .emit(user: a.user_id, first_v: a.value, next_v: b.value)
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["Repeat"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_derived")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.user, round(r.first_v, 6), round(r.next_v, 6))
                 for r in spark.table("vpl_derived").collect())
    want = sorted((r.user, round(r.first_v, 6), round(r.next_v, 6))
                  for r in run_program(src_text, Stream.events(spark, sf_dir))["Repeat"].collect())
    assert want and got == want


def test_streaming_limit_dispatch_is_global(spark, sf_dir, replay_dir):
    """`.limit(n)` on a KEYED streaming frame matches batch: the reference
    keeps ONE global LimitState counter (types.rs:296-299), so both modes
    must return the globally-earliest n rows (ADVICE r6 parity fix).
    Direct limit_streaming(per_key=True) remains the keyed extension."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = src.partition_by("user_id").limit(5)
    S.run_to_memory(out, "glim_stream")
    got = sorted(r.event_id for r in spark.table("glim_stream").collect())
    want = sorted(
        r.event_id
        for r in Stream.events(spark, sf_dir).partition_by("user_id").limit(5).df.collect()
    )
    assert len(want) == 5 and got == want


def test_streaming_distinct_column_expr(spark, sf_dir, replay_dir):
    """`.distinct(Column)` on a streaming frame: the expr is materialized
    before the stateful groupBy (ADVICE r6: str(Column) produced an
    unresolvable name). Key set must match batch distinct on the same
    expression."""
    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = src.distinct(F.col("user_id") % 3)
    assert out.df.isStreaming and "__dk0" not in out.df.columns
    S.run_to_memory(out, "cdist_stream")
    got = sorted(r.user_id % 3 for r in spark.table("cdist_stream").collect())
    want = sorted(
        r.k for r in Stream.events(spark, sf_dir)
        .df.select((F.col("user_id") % 3).alias("k")).distinct().collect()
    )
    assert got == want


def test_mixed_batch_stream_three_way_join(spark, sf_dir, replay_dir):
    """Mixed n-way join with a BATCH frame as the FIRST alias: the
    watermark tag must survive on the first STREAMING side's ts column
    (ADVICE r6: wm_ts was hardcoded to the first alias, so the strip
    removed the only tagged event-time column and later stream-stream
    steps lost state eviction). Result must equal the all-batch plan."""
    schema = Stream.events(spark, sf_dir).df.schema
    a = Stream.events(spark, sf_dir, "view")  # batch side leads
    b = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("click")
    c = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1).of_type("view")
    out = a.join(b, on="user_id", window="6h", self_alias="a", other_alias="b", c=c)
    assert out.df.isStreaming
    S.run_to_memory(out, "mixed3_stream")
    got = {
        (r.user_id, r.a_event_id, r.b_event_id, r.c_event_id)
        for r in spark.table("mixed3_stream").collect()
    }
    ba = Stream.events(spark, sf_dir, "view")
    bb = Stream.events(spark, sf_dir, "click")
    bc = Stream.events(spark, sf_dir, "view")
    bout = ba.join(bb, on="user_id", window="6h", self_alias="a", other_alias="b", c=bc)
    want = {
        (r.user_id, r.a_event_id, r.b_event_id, r.c_event_id)
        for r in bout.df.select("user_id", "a_event_id", "b_event_id", "c_event_id").collect()
    }
    assert len(want) > 10 and got == want


# ---------------------------------------------------------------------------
# BP-01 run management: max_runs per key + backpressure strategies
# (sase.rs:1865/1919 default, handle_backpressure_partitioned sase.rs:2505)
# ---------------------------------------------------------------------------


def _sg(n, typ="signup", t0=0, step_ns=1_000_000_000):
    return [
        {"event_type": typ, "user_id": "hot", "value": i, "__ts": t0 + i * step_ns}
        for i in range(n)
    ]


def _cap_pattern(**kw):
    return Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        emit={"a_v": ("a", "value"), "b_v": ("b", "value")},
        **kw,
    )


def test_run_cap_drop_bounds_never_completing_hot_key():
    """A hot key under a never-completing pattern (no 'purchase' ever
    arrives, no `within` horizon) must hold bounded state: anchors cap at
    max_runs, surplus runs are DROPPED and counted (Drop strategy,
    sase.rs:2416-2424)."""
    from varpulis_spark.streaming import _merge_with_run_cap

    p = _cap_pattern(max_runs=50, backpressure="drop")
    events, started, dropped, evicted = _merge_with_run_cap([], _sg(1000), p, "hot")
    assert len(events) == 50 and started == 50
    assert dropped == 950 and evicted == 0
    # incremental batches against carried state stay bounded
    ev2, s2, d2, e2 = _merge_with_run_cap(events, _sg(500, t0=10**13), p, "hot")
    assert len(ev2) == 50 and s2 == 0 and d2 == 500 and e2 == 0


def test_run_cap_evict_oldest_keeps_newest_runs():
    from varpulis_spark.streaming import _merge_with_run_cap

    p = _cap_pattern(max_runs=10, backpressure="evict_oldest")
    events, started, dropped, evicted = _merge_with_run_cap([], _sg(100), p, "hot")
    assert len(events) == 10 and started == 100
    assert evicted == 90 and dropped == 0
    assert [e["value"] for e in events] == list(range(90, 100))


def test_run_cap_prunes_extenders_behind_oldest_anchor():
    """Non-anchor events older than the oldest surviving anchor are dead
    state (every match starts at an anchor and binds later events) and are
    pruned with it."""
    from varpulis_spark.streaming import _merge_with_run_cap

    p = _cap_pattern(max_runs=5, backpressure="evict_oldest")
    old_purchases = _sg(10, typ="purchase", t0=0)
    signups = _sg(50, t0=10**12)
    events, *_ = _merge_with_run_cap([], old_purchases + signups, p, "hot")
    assert len(events) == 5
    assert all(e["event_type"] == "signup" for e in events)


def test_run_cap_evict_least_progress_picks_stalled_run():
    """EvictLeastProgress (sase.rs:2460): the anchor with no next-step
    candidate after it goes first."""
    from varpulis_spark.streaming import _merge_with_run_cap

    p = _cap_pattern(max_runs=3, backpressure="evict_least_progress")
    s0, s10, s20 = _sg(1, t0=0)[0], _sg(1, t0=10)[0], _sg(1, t0=20)[0]
    pur15 = _sg(1, typ="purchase", t0=15)[0]
    events, *_ = _merge_with_run_cap([], [s0, s10, s20, pur15], p, "hot")
    assert len(events) == 4  # 3 anchors at cap + 1 extender
    s30 = _sg(1, t0=30)[0]
    events2, started, dropped, evicted = _merge_with_run_cap(events, [s30], p, "hot")
    assert evicted == 1
    got = {(e["event_type"], e["__ts"]) for e in events2}
    # s20 had zero next-step candidates after it → evicted; s0/s10 keep
    # their purchase@15 candidate
    assert got == {("signup", 0), ("signup", 10), ("purchase", 15), ("signup", 30)}


def test_run_cap_sample_rate_zero_drops_all_over_cap():
    from varpulis_spark.streaming import _merge_with_run_cap

    p = _cap_pattern(max_runs=10, backpressure="sample:0.0")
    events, started, dropped, evicted = _merge_with_run_cap([], _sg(100), p, "hot")
    assert len(events) == 10 and dropped == 90 and evicted == 0


def test_run_cap_sample_counter_rule_holds_rate():
    """Reference's counter-based sampling (sase.rs:2476-2479): over-cap
    arrivals are accepted while accepted*rate > dropped, converging on the
    configured rate; accepts evict-oldest to stay at the cap."""
    from varpulis_spark.streaming import _merge_with_run_cap

    p = _cap_pattern(max_runs=10, backpressure="sample:0.5")
    events, started, dropped, evicted = _merge_with_run_cap([], _sg(1010), p, "hot")
    assert len(events) == 10
    over_cap = 1000
    accepted_over_cap = started - 10
    assert accepted_over_cap == evicted  # each sampled-in run evicts one
    assert abs(accepted_over_cap / over_cap - 0.5) < 0.05
    assert accepted_over_cap + dropped == over_cap


def test_streaming_run_cap_counters_and_evict_semantics(spark, tmp_path):
    """E2E: hot key replay under the cap. Drop: counters flow back to the
    driver (accumulator-backed run_stats). EvictOldest: a late 'purchase'
    matches exactly the max_runs NEWEST surviving signups."""
    import datetime as dt

    rows = [
        ("signup", "hot", i, dt.datetime(2026, 1, 1, 0, 0, i), f"s{i:03d}")
        for i in range(60)
    ] + [("purchase", "hot", 999, dt.datetime(2026, 1, 1, 0, 30, 0), "p000")]
    df = spark.createDataFrame(
        rows, "event_type string, user_id string, value long, ts timestamp, event_id string"
    )
    d = str(tmp_path / "hotkey")
    df.orderBy("ts").coalesce(1).write.parquet(d)

    # drop strategy: no matches possible (predicate never passes), counters flow
    p_drop = Pattern(
        steps=[step("signup", "a"),
               step("purchase", "b", where=lambda e, b: False)],
        emit={"a_id": ("a", "event_id")},
        max_runs=20, backpressure="drop",
    )
    src = S.file_source(spark, d, df.schema, max_files_per_trigger=1)
    out = S.apply_pattern_streaming(src.partition_by("user_id"), p_drop)
    S.run_to_memory(out, "cap_drop")
    assert spark.table("cap_drop").count() == 0
    assert out.run_stats["runs_started"].value == 20
    assert out.run_stats["runs_dropped"].value == 40
    assert out.run_stats["runs_evicted"].value == 0

    # evict_oldest: the purchase completes only the newest 20 signups
    p_evict = Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        emit={"a_id": ("a", "event_id")},
        max_runs=20, backpressure="evict_oldest",
    )
    src2 = S.file_source(spark, d, df.schema, max_files_per_trigger=1)
    out2 = S.apply_pattern_streaming(src2.partition_by("user_id"), p_evict)
    S.run_to_memory(out2, "cap_evict")
    got = {r.a_id for r in spark.table("cap_evict").collect()}
    assert got == {f"s{i:03d}" for i in range(40, 60)}
    assert out2.run_stats["runs_evicted"].value == 40


def _id_ordered_replay(spark, rows, schema, base, n_files):
    """Write rows as n_files id-ordered parquet files with distinct mtimes
    (micro-batch replay for the dedup-against-history twins)."""
    os.makedirs(base)
    n = len(rows)
    chunk = (n + n_files - 1) // n_files
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    k = 0
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        d = os.path.join(base, f"f{i}")
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"{k:02d}.parquet")
                shutil.copy(os.path.join(d, f), dst)
                os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
                k += 1
    return flat


def test_streaming_minhash_near_dup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming MinHash near-dup mining vs batch: documents replayed in 3
    id-ordered micro-batches must yield the SAME pair set (id-ordered
    arrival is the exact-parity contract — state converges to the batch
    cap's lowest-id bucket membership). Pairs may repeat across colliding
    bands; the drained result is compared as a distinct set."""
    from types import SimpleNamespace

    from varpulis_spark.engine import load_table
    from varpulis_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_near_dup_streaming,
        release_caches,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    flat = _id_ordered_replay(spark, rows, docs.schema, str(tmp_path / "docs_replay"), 3)
    src = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(flat)
    out = minhash_near_dup_streaming(src, threshold=0.4)
    assert out.isStreaming
    S.run_to_memory(SimpleNamespace(df=out), "mh_stream")
    got = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in spark.table("mh_stream").collect()
    }
    want = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in minhash_near_dup_pairs(docs, threshold=0.4).collect()
    }
    release_caches()
    assert got == want and len(want) > 0


def test_streaming_minhash_hot_bucket_capped(spark, tmp_path):
    """A degenerate bucket (identical boilerplate text) must stay bounded:
    with max_bucket=4, only the 4 lowest ids form pairs — C(4,2) distinct
    pairs no matter how many clones stream in — mirroring the batch cap."""
    from types import SimpleNamespace

    from varpulis_spark.operators.dedup import minhash_near_dup_streaming

    boiler = "the same boilerplate text repeated in every clone of this doc"
    rows = [(i, boiler) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flat = _id_ordered_replay(spark, rows, df.schema, str(tmp_path / "hot"), 2)
    src = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(flat)
    out = minhash_near_dup_streaming(src, threshold=0.9, max_bucket=4)
    S.run_to_memory(SimpleNamespace(df=out), "mh_hot")
    got = {(r.id_a, r.id_b) for r in spark.table("mh_hot").collect()}
    assert got == {(a, b) for a in range(4) for b in range(4) if a < b}


def test_streaming_simhash_near_dup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming SimHash twin vs batch: the 4x16-bit pigeonhole banding is
    deterministic (Hamming <= 3 => >= 1 identical band), so id-ordered
    replay must reproduce the batch pair set EXACTLY, hamming included."""
    from types import SimpleNamespace

    from varpulis_spark.engine import load_table
    from varpulis_spark.operators.dedup import (
        release_caches,
        simhash_near_dup_pairs,
        simhash_near_dup_streaming,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    flat = _id_ordered_replay(spark, rows, docs.schema, str(tmp_path / "sh_replay"), 3)
    src = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(flat)
    out = simhash_near_dup_streaming(src, max_hamming=3)
    assert out.isStreaming
    S.run_to_memory(SimpleNamespace(df=out), "sh_stream")
    got = {
        (r.id_a, r.id_b, r.hamming) for r in spark.table("sh_stream").collect()
    }
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    release_caches()
    assert got == want and len(want) > 0


def test_streaming_simhash_sharded_state_matches_batch(spark, sf_dir, tmp_path):
    """`state_shards` is a physical re-keying only: buckets are mutually
    independent, so colocating many buckets' memberships in one state row
    must yield the IDENTICAL pair set as per-bucket state (and therefore
    as batch, under id-ordered replay). This is the config the streaming
    bench's dedup twin runs (per-touched-bucket Python round-trips are the
    throughput knee at high offered rates)."""
    from types import SimpleNamespace

    from varpulis_spark.engine import load_table
    from varpulis_spark.operators.dedup import (
        release_caches,
        simhash_near_dup_pairs,
        simhash_near_dup_streaming,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.orderBy("doc_id").collect()
    flat = _id_ordered_replay(spark, rows, docs.schema, str(tmp_path / "shs"), 3)
    src = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(flat)
    out = simhash_near_dup_streaming(src, max_hamming=3, state_shards=8)
    S.run_to_memory(SimpleNamespace(df=out), "sh_sharded")
    got = {(r.id_a, r.id_b, r.hamming) for r in spark.table("sh_sharded").collect()}
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
    }
    release_caches()
    assert got == want and len(want) > 0


def test_streaming_minhash_sharded_state_matches_batch(spark, tmp_path):
    """Sharded-state parity for the MinHash twin on a small synthetic
    corpus (clone pairs + noise), including the hot-bucket cap inside a
    shard: same pair set as per-bucket state."""
    from types import SimpleNamespace

    from varpulis_spark.operators.dedup import minhash_near_dup_streaming

    boiler = "the same boilerplate text repeated in every clone of this doc"
    rows = [(i, boiler) for i in range(12)] + [
        (100 + i, f"unique document number {i} with entirely distinct words {i * 7}")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flat = _id_ordered_replay(spark, rows, df.schema, str(tmp_path / "mhs"), 2)

    def run(shards, name):
        src = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(flat)
        out = minhash_near_dup_streaming(
            src, threshold=0.9, max_bucket=4, state_shards=shards
        )
        S.run_to_memory(SimpleNamespace(df=out), name)
        return {(r.id_a, r.id_b) for r in spark.table(name).collect()}

    assert run(4, "mh_shard4") == run(None, "mh_shard_none") == {
        (a, b) for a in range(4) for b in range(4) if a < b
    }


def test_streaming_sharded_member_cap_evicts_lru(spark, tmp_path):
    """`shard_member_cap` bounds a shard's history by evicting
    least-recently-touched BUCKETS (reference DistinctState's LRU≈TTL cap
    policy): doc 0 and doc 2 are exact clones (all 4 pigeonhole bands
    collide) separated by a batch of unrelated docs; uncapped they pair,
    but with a cap small enough that the middle batch's buckets evict
    doc 0's history, the clone arrives to empty buckets and no pair is
    emitted."""
    from types import SimpleNamespace

    from varpulis_spark.operators.dedup import simhash_near_dup_streaming

    text = "a near identical document body with many shared words across copies"
    other = [
        "zebra quartz umbrella kitchen paradox wavelength nomad circuit",
        "harvest lantern mosaic thunder velvet origami sapphire dune",
        "glacier trumpet ember willow cascade prism falcon meadow",
        "anchor nebula crimson jigsaw hammock turbine orchid basalt",
    ]
    rows = [(0, text)] + [(1 + i, t) for i, t in enumerate(other)] + [(9, text)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flat = _id_ordered_replay(spark, rows, df.schema, str(tmp_path / "cap"), 3)

    def run(cap, name):
        src = spark.readStream.schema(df.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(flat)
        out = simhash_near_dup_streaming(
            src, max_hamming=3, state_shards=1, shard_member_cap=cap
        )
        S.run_to_memory(SimpleNamespace(df=out), name)
        return {(r.id_a, r.id_b) for r in spark.table(name).collect()}

    assert run(None, "cap_none") == {(0, 9)}
    # 4 filler docs x 4 bands = 16 fresher members; cap 8 evicts doc 0's
    assert run(8, "cap_eight") == set()


def test_streaming_embedding_near_dup_recall_and_precision(spark, tmp_path):
    """Streaming embedding near-dup: jittered clone pairs (cos >= ~0.97)
    among random background vectors. Precision is EXACT by construction
    (float64 verification in state); recall through the banded+probed
    hyperplane buckets must recover every true pair on this seeded,
    deterministic dataset."""
    import numpy as np
    from types import SimpleNamespace

    from varpulis_spark.operators.similarity import embedding_near_dup_streaming

    rng = np.random.RandomState(11)
    dim, n_pairs, n_noise = 32, 25, 150
    vecs = []
    for i in range(n_pairs):
        base = rng.normal(size=dim)
        base /= np.linalg.norm(base)
        jit = base + rng.normal(scale=0.04, size=dim)
        jit /= np.linalg.norm(jit)
        vecs.append((2 * i, base))
        vecs.append((2 * i + 1, jit))
    for i in range(n_noise):
        v = rng.normal(size=dim)
        vecs.append((1000 + i, v / np.linalg.norm(v)))
    # ground truth: exact all-pairs cosine over the normalized set
    ids = np.array([i for i, _ in vecs])
    m = np.array([v for _, v in vecs])
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    g = m @ m.T
    want = {
        (int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
        for a in range(len(ids))
        for b in range(a + 1, len(ids))
        if g[a, b] >= 0.9
    }
    assert len(want) >= n_pairs  # every clone pair is a true near-dup

    rows = [(int(i), [float(x) for x in v]) for i, v in vecs]
    rows.sort(key=lambda r: r[0])
    schema = "vec_id long, embedding array<double>"
    flat = _id_ordered_replay(spark, rows, schema, str(tmp_path / "emb_replay"), 3)
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    out = embedding_near_dup_streaming(src, threshold=0.9)
    S.run_to_memory(SimpleNamespace(df=out), "emb_stream")
    drained = spark.table("emb_stream").collect()
    got = {(r.id_a, r.id_b) for r in drained}
    # precision: every emitted pair really is >= threshold
    for r in drained:
        assert r.cosine >= 0.9
    assert got == want


def test_vpl_process_dispatches_on_streaming(spark, sf_dir, replay_dir):
    """`.process(gen_fn(args))` on a streaming source: mapInPandas runs the
    compiled imperative body per micro-batch event; emits match the batch
    run exactly (mandelbrot server mode runs this shape on live streams)."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
fn expand(uid: str, v: float):
    var i = 0
    while i < 2:
        emit Got(user: uid, slot: i, scaled: v * (i + 1))
        i := i + 1

stream Out = purchase
    .process(expand(user_id, value))
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["Out"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_process_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user, r.slot, r.scaled)
           for r in spark.table("vpl_process_stream").collect()}

    bout = run_program(src_text, Stream.events(spark, sf_dir))["Out"]
    want = {(r.user, r.slot, r.scaled) for r in bout.collect()}
    assert want and got == want


def test_vpl_imperative_fn_in_emit_on_streaming(spark, sf_dir, replay_dir):
    """A statement-bodied fn in expression position lowers to a pandas UDF,
    which must run per micro-batch on a streaming frame too."""
    from varpulis_spark.vpl.compiler import run_program

    src_text = """
fn collatz_len(n0: int) -> int:
    var n = n0
    var steps = 0
    while n > 1:
        if n % 2 == 0:
            n := n / 2
        else:
            n := 3 * n + 1
        steps := steps + 1
    return steps

stream Out = purchase
    .emit(user: user_id, eid: event_id, c: collatz_len(event_id % 50 + 1))
"""
    schema = Stream.events(spark, sf_dir).df.schema
    sstream = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    out = run_program(src_text, sstream)["Out"]
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("vpl_impexpr_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user, r.eid, r.c)
           for r in spark.table("vpl_impexpr_stream").collect()}
    bout = run_program(src_text, Stream.events(spark, sf_dir))["Out"]
    want = {(r.user, r.eid, r.c) for r in bout.collect()}
    assert want and got == want


# ---------------------------------------------------------------------------
# trailing-negation event-time confirmation (NegationConstraint,
# sase.rs:675-716) — r11: a match must NOT be emitted before the watermark
# passes first_ts + within, so a veto crossing a micro-batch boundary can
# still kill it; held matches flush via the state timeout / native timer.
# ---------------------------------------------------------------------------


def _trailing_neg_scenario(spark, tmp_path):
    """One file per row (one micro-batch per event): A(1)→B(2) is vetoed by
    an error in a LATER batch (event-time inside the window); A(5)→B(6) is
    clean and must flush once the watermark passes its deadline."""
    import pandas as pd

    from varpulis_spark.operators.sase import not_step

    rows = [
        (pd.Timestamp("2024-01-01 00:00:00"), "signup",   1, 7, 1.0),
        (pd.Timestamp("2024-01-01 00:00:10"), "purchase", 2, 7, 2.0),
        (pd.Timestamp("2024-01-01 00:00:20"), "error",    3, 7, 0.0),
        (pd.Timestamp("2024-01-02 00:00:00"), "signup",   4, 7, 0.0),
        (pd.Timestamp("2024-01-02 01:00:00"), "signup",   5, 7, 1.0),
        (pd.Timestamp("2024-01-02 01:00:10"), "purchase", 6, 7, 2.0),
        # relevant far-future events so the WATERMARK advances past the
        # (5,6) deadline: Catalyst pushes the relevant-type filter below
        # the watermark node, so only pattern-relevant events drive it
        (pd.Timestamp("2024-01-03 00:00:00"), "signup",   8, 7, 0.0),
    ]
    cols = ["ts", "event_type", "event_id", "user_id", "value"]
    d = str(tmp_path / "neg_replay")
    os.makedirs(d, exist_ok=True)
    import pandas as _pd

    for i, r in enumerate(rows):
        _pd.DataFrame([r], columns=cols).to_parquet(
            os.path.join(d, f"f{i:03d}.parquet"), coerce_timestamps="us"
        )
    schema = "ts timestamp, event_type string, event_id long, user_id long, value double"
    df = spark.read.schema(schema).parquet(d)
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "b"), not_step("error")],
        within="1h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
    )
    batch = sorted(
        (r.a_id, r.b_id)
        for r in Stream.from_df(df, ts_col="ts", order_col="event_id")
        .partition_by("user_id").pattern(p).df.collect()
    )
    return d, df.schema, p, batch


def test_streaming_trailing_negation_confirms_in_event_time(
    spark, tmp_path
):
    """The veto arrives one micro-batch AFTER the completing event: the
    match must be held (not emitted) until its deadline passes the
    watermark — r11; emission was previously immediate and diverged from
    batch. The clean match must still flush via the event-time timeout."""
    d, schema, p, batch = _trailing_neg_scenario(spark, tmp_path)
    assert batch == [(5, 6)]  # scenario sanity: veto kills (1,2)
    src = S.file_source(spark, d, schema, max_files_per_trigger=1,
                        order_col="event_id")
    out = src.watermark("0 seconds").partition_by("user_id").pattern(p)
    S.run_to_memory(out, "neg_confirm")
    got = sorted(
        (r.a_id, r.b_id) for r in spark.table("neg_confirm").collect()
    )
    assert got == batch


def test_streaming_trailing_negation_validation(spark, sf_dir, replay_dir):
    """Trailing negation in streaming REQUIRES within + watermark and is
    incompatible with the processing-time idle GC (one timeout slot)."""
    from varpulis_spark.operators.sase import not_step

    schema = Stream.events(spark, sf_dir).df.schema
    src = S.file_source(spark, replay_dir, schema, max_files_per_trigger=1)
    p_no_within = Pattern(
        steps=[step("signup", "a"), step("purchase", "b"), not_step("error")],
        emit={"a_id": ("a", "event_id")},
    )
    with pytest.raises(ValueError, match="within"):
        src.watermark("1h").partition_by("user_id").pattern(p_no_within)
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "b"), not_step("error")],
        within="1h", emit={"a_id": ("a", "event_id")},
    )
    with pytest.raises(ValueError, match="watermark"):
        src.partition_by("user_id").pattern(p)
    with pytest.raises(ValueError, match="state_timeout"):
        S.apply_pattern_streaming(
            src.watermark("1h").partition_by("user_id"), p,
            state_timeout="5m",
        )


def _ooo_late_completion_scenario(spark, tmp_path):
    """Non-trailing SEQ(signup, purchase) within 2h on input watermarked at
    6h: the completing purchase arrives one micro-batch LATE and
    out-of-order (event-time before the previous batch's max). The signup
    must survive eviction until the WATERMARK (not the batch max) passes
    its horizon — the batch-max floor would evict it in batch 2 and lose
    the match."""
    import pandas as _pd

    rows = [
        [(_pd.Timestamp("2024-01-01 10:00:00"), "signup",   1, 7, 1.0)],
        # same-key signup 4h ahead: batch-max floor = 14:00-2h evicts
        # signup#1; watermark floor (10:00-6h-2h) retains it
        [(_pd.Timestamp("2024-01-01 14:00:00"), "signup",   3, 7, 0.0)],
        # out-of-order completion, above the watermark (14:00-6h = 08:00)
        [(_pd.Timestamp("2024-01-01 11:30:00"), "purchase", 2, 7, 2.0)],
    ]
    cols = ["ts", "event_type", "event_id", "user_id", "value"]
    d = str(tmp_path / "ooo_replay")
    os.makedirs(d, exist_ok=True)
    for i, batch in enumerate(rows):
        _pd.DataFrame(batch, columns=cols).to_parquet(
            os.path.join(d, f"f{i:03d}.parquet"), coerce_timestamps="us"
        )
    schema = (
        "ts timestamp, event_type string, event_id long, user_id long, "
        "value double"
    )
    p = Pattern(
        steps=[step("signup", "a"), step("purchase", "b")],
        within="2h",
        emit={"user_id": ("a", "user_id"), "a_id": ("a", "event_id"),
              "b_id": ("b", "event_id")},
    )
    df = spark.read.schema(schema).parquet(d)
    batch_rows = sorted(
        (r.a_id, r.b_id)
        for r in Stream.from_df(df, ts_col="ts", order_col="event_id")
        .partition_by("user_id").pattern(p).df.collect()
    )
    return d, df.schema, p, batch_rows


# The streaming benchmark runs the pattern on RocksDB with changelog
# checkpointing; the default gate keeps one parity case on that store.
_STATE_STORES = {
    "default": {},
    "rocksdb": {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    },
}


@pytest.mark.parametrize("store", sorted(_STATE_STORES))
def test_streaming_watermarked_pattern_keeps_ooo_completion(
    spark, tmp_path, store
):
    """The stateful pattern must use the WATERMARK eviction floor on
    watermarked input for non-trailing patterns, and match batch on both
    the default state store and RocksDB with changelog checkpointing."""
    d, schema, p, batch_rows = _ooo_late_completion_scenario(spark, tmp_path)
    assert batch_rows == [(1, 2)]  # scenario sanity
    src = S.file_source(spark, d, schema, max_files_per_trigger=1,
                        order_col="event_id")
    out = S.apply_pattern_streaming(
        src.watermark("6 hours").partition_by("user_id"), p
    )
    confs = _STATE_STORES[store]
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = S.run_to_memory(out, f"ooo_keep_{store}")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    got = sorted(
        (r.a_id, r.b_id)
        for r in spark.table(f"ooo_keep_{store}").collect()
    )
    assert got == batch_rows
    # the query really ran on the store it was given
    metrics = q.recentProgress[-1]["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in metrics) == (store == "rocksdb")


def test_trend_unbounded_state_warning():
    """A predicate with no `within` means per-key state grows with full
    key history — the heads-up must fire. It is raised before the
    operator builds its plan, so it fires even though the probe's empty
    keys then make the call raise."""
    import warnings as W

    import varpulis_spark.streaming as S2

    class _Probe:
        df = None
        keys = []
        ts_col = "ts"

    with W.catch_warnings(record=True) as got:
        W.simplefilter("always")
        with pytest.raises(ValueError, match="partition_by"):
            S2.trend_aggregate_streaming(_Probe(), adjacent=lambda a, b: True)
    assert any("per-key state grows" in str(w.message) for w in got)


def test_get_spark_leaves_the_process_alone(spark):
    """get_spark configures the session and nothing else: no protobuf
    version-check waiver in the environment, no package directory from
    the varpulis_spark cache on sys.path or PYTHONPATH, and no py-files
    shipped to executors from it."""
    from varpulis_spark.engine import get_spark

    assert get_spark("varpulis_spark_tests", cores=4) is spark
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME", os.path.expanduser("~/.cache")),
        "varpulis_spark",
    )
    assert "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK" not in os.environ
    paths = sys.path + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert not [p for p in paths if p.startswith(cache)]
    py_files = spark.sparkContext.getConf().get("spark.submit.pyFiles", "")
    assert cache not in (py_files or "")
