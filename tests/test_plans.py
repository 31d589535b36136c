"""Physical-plan audits: the properties that matter at 100 TB must hold in
the optimized plan, not just in intent — pushed filters, pruned scans,
broadcast dimension joins, partial aggregation, no Python in join-compiled
patterns (SURVEY §4)."""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from varpulis_spark import Stream
from varpulis_spark.operators import aggregates as A


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = E.queries()["high_value_filter"](spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "GreaterThan(value,150" in plan


def test_column_pruning(spark, sf_dir):
    df = Stream.events(spark, sf_dir).select("user_id", "value").df
    plan = plan_of(df)
    assert "props" not in plan  # untouched wide column never read


def test_enrich_broadcasts_dimension(spark, sf_dir):
    df = E.queries()["enrich_orders"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregation_is_partial(spark, sf_dir):
    df = E.queries()["pricing_summary"](spark, sf_dir)
    plan = plan_of(df)
    # map-side partial + final HashAggregate pair
    assert plan.count("HashAggregate") >= 2


def test_windowed_join_is_equi_join(spark, sf_dir):
    df = E.queries()["windowed_join_10m"](spark, sf_dir)
    plan = plan_of(df)
    # the time band must ride an equi-join, never a cartesian product
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_three_way_join_is_equi_join_chain(spark, sf_dir):
    """Both chained joins stay equi-joins with the bands as residual
    predicates — a cartesian anywhere in the chain would be quadratic at
    scale."""
    df = E.queries()["windowed_join_3way"](spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_event_type_prefilter_pushed_for_patterns(spark, sf_dir):
    from varpulis_spark.operators.sase import Pattern, step

    p = Pattern(
        steps=[step("A", "a"), step("B", "bs", kleene="+")],
        emit={"a_id": ("a", "event_id")},
    )  # Kleene → NFA path, but the isin prefilter still pushes to the scan
    df = Stream.events(spark, sf_dir).partition_by("user_id").pattern(p).df
    plan = plan_of(df)
    assert "In(event_type" in plan


def test_late_split(spark):
    """Arrival order (event_id) 0..5 with ts (seconds): 0, 600, 610, 5,
    580, 620. Watermark trails max-prior-ts by 60s: event 3 (ts=5 vs
    wm=610-60) is late; event 4 (ts=580 vs wm=550) is on time."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    secs = [0, 600, 610, 5, 580, 620]
    df = spark.createDataFrame(
        [(i, t0 + timedelta(seconds=s)) for i, s in enumerate(secs)],
        "event_id long, ts timestamp",
    )
    s = Stream(df, ts_col="ts", order_col="event_id")
    on_time, late = s.late_split("60s")
    assert sorted(r.event_id for r in late.collect()) == [3]
    assert sorted(r.event_id for r in on_time.collect()) == [0, 1, 2, 4, 5]
    # allowed_lateness widens the acceptance band
    on_time2, late2 = s.late_split("60s", allowed_lateness="10m")
    assert late2.count() == 0


def test_lag_single_shuffle(spark, sf_dir):
    """prev/lag: one hash exchange on the partition key feeding one window
    sort — no extra shuffles, no Python."""
    df = E.queries()["lag_delta"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_trend_multi_single_pass(spark, sf_dir):
    """Hamlet multi-query: ONE scan of events and ONE keyed exchange feed
    all 10 queries — and since r4's closed-form lowering the whole plan is
    JVM-side (conditional aggregation + struct explode, no Python stage)."""
    df = E.queries()["trend_multi"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_lang_distribution_single_tokenization(spark, sf_dir):
    """The 4 per-language scores must derive from ONE materialized token
    array — CollapseProject must not re-inline the split into each score
    (VERDICT r3 #2: a 4x token-split recompute)."""
    df = E.queries()["lang_distribution"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("split(") == 1, plan


def test_unpartitioned_pattern_and_trend_warn(spark, sf_dir):
    """The single-universe fallback is the one user-triggerable scale
    killer — it must announce itself (VERDICT r3 task 6)."""
    import warnings

    from varpulis_spark.operators.greta import trend_aggregate
    from varpulis_spark.operators.sase import Pattern, apply_pattern_batch, step

    ev = Stream.events(spark, sf_dir)
    pat = Pattern(steps=[step("signup", "a"), step("purchase", "b")])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        apply_pattern_batch(ev, pat)
        assert any("unpartitioned pattern" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        # within forces the DP path — that is the single-universe hazard
        trend_aggregate(ev, event_type="purchase", within="1h")
        assert any("unpartitioned trend" in str(x.message) for x in w)
    # the partitioned paths stay silent
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        trend_aggregate(ev.partition_by("user_id"), event_type="purchase")
        # predicate-free unkeyed lowering is a plain JVM aggregation
        # (distributed partial agg) — no hazard, no warning
        trend_aggregate(ev, event_type="purchase")
        assert not any("unpartitioned" in str(x.message) for x in w)


def test_minhash_exchanges_carry_no_text(spark, sf_dir):
    """Near-dup pipeline: document text reaches only the signature UDF;
    every exchange carries ids/buckets/signatures."""
    from varpulis_spark.operators import dedup as D
    from varpulis_spark.engine import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = D.minhash_near_dup_pairs(docs, threshold=0.4)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    for m in re.finditer(r"\(\d+\) Exchange\n((?:.+\n)+?)\n", explained):
        section = m.group(1)
        if "RoundRobinPartitioning" in section:
            # spread()'s pre-UDF fan-out: only exists when the local input
            # arrives as fewer splits than the fan-out decision asks for —
            # a no-op on a real cluster (engine.spread docstring), so it may
            # carry text here
            continue
        assert "text#" not in section and "__t#" not in section, section
    D.release_caches()


def test_near_dup_verify_plan_shapes(spark, sf_dir):
    """Banding false-positives dwarf surviving pairs near the threshold,
    so signatures must never ride a per-candidate shuffle.

    minhash (r8): verification is BUCKET-LOCAL — signatures join the
    capped bucket membership once and agreement runs in a mapInPandas
    kernel, so the plan must show ArrowEvalPython (the verify kernel) and
    NO per-pair signature join (the pre-r8 shape shuffled ~2 KB of sigs
    per raw candidate — ~170 GB at sf10).

    minshingle (r11): verification is BLOCK-LOCAL too — shingle arrays
    join ONCE onto the pairable block memberships (broadcast when the
    exact cached size fits VERIFY_BROADCAST_MAX_BYTES; above it the
    NARROW membership side is the hash build — arrays are never sorted),
    and exact Jaccard runs in a mapInPandas kernel. The pre-r11 shape
    (candidates → join both arrays back) shipped ~46 GB of sorted array
    payload through two SMJs at sf10."""
    from varpulis_spark.operators import dedup as D
    from varpulis_spark.engine import load_table

    docs = load_table(spark, sf_dir, "documents")
    mh_plan = plan_of(D.minhash_near_dup_pairs(docs, threshold=0.4))
    assert "MapInPandas" in mh_plan or "mapInPandas" in mh_plan, mh_plan
    assert "zip_with" not in mh_plan  # no per-pair JVM array comparison

    ms_plan = plan_of(D.ngram_minshingle_pairs(docs))
    # one array join (broadcast at this size), verify kernel in Python —
    # r12: mapInARROW, not mapInPandas (pandas conversion materialized one
    # Python int per shingle hash, ~120 s at sf10 before any verification)
    assert ms_plan.count("BroadcastHashJoin") == 1, ms_plan
    assert "MapInArrow" in ms_plan or "mapInArrow" in ms_plan, ms_plan
    assert "MapInPandas" not in ms_plan, ms_plan
    # arrays never ride a sort-merge join or a per-pair verify join
    assert "SortMergeJoin" not in ms_plan, ms_plan
    assert "array_intersect" not in ms_plan  # verify left the JVM plan
    D.release_caches()


def test_no_red_flags_in_any_driver_plan(spark, sf_dir):
    """Sweep EVERY driver query's physical plan: no cartesian/nested-loop
    joins (quadratic at scale) and no row-at-a-time Python UDFs
    (BatchEvalPython — the non-Arrow slow path). `embedding_near_dup` is
    whitelisted for its row×block-id replication crossJoin (a broadcast of
    an n_blocks-row frame — the block-matrix shape, not row×row);
    `embedding_near_dup_capped` is the same cosine_pairs kernel over a
    fixed 4,000-row slice, so it carries the identical whitelisted shape."""
    allowed_cartesian = {"embedding_near_dup", "embedding_near_dup_capped"}
    flags = []
    for name, fn in E.queries().items():
        plan = plan_of(fn(spark, sf_dir))
        if name not in allowed_cartesian and (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ):
            flags.append((name, "cartesian"))
        if "BatchEvalPython" in plan:
            flags.append((name, "row-at-a-time PythonUDF"))
    assert not flags, flags


# ---------------------------------------------------------------------------
# the one fan-out decision (engine.fanout_partitions)
# ---------------------------------------------------------------------------


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _pinned_exchanges(plan: str) -> list[str]:
    """Partitioning of every explicit repartition(n, ...) exchange."""
    import re

    return re.findall(r"Arguments: (.+?), REPARTITION_BY_NUM", plan)


def test_small_inputs_do_not_fan_out(spark, sf_dir):
    """Below BYTES_PER_TASK of local input a kernel stage runs on one
    partition: no round-robin spread, and every keyed pin (spread_keys,
    the LSH/minshingle verify) is a single-partition exchange."""
    from varpulis_spark.engine import BYTES_PER_TASK, load_table
    from varpulis_spark.operators import dedup as D

    for table in ("documents", "embeddings"):
        assert os.path.getsize(f"{sf_dir}/{table}.parquet") < BYTES_PER_TASK
    docs = load_table(spark, sf_dir, "documents")
    frames = {
        name: E.queries()[name](spark, sf_dir)
        for name in ("text_stats", "ann_ivf", "ivf_near_dup", "minhash_near_dup")
    }
    frames["ngram_minshingle_pairs"] = D.ngram_minshingle_pairs(docs)
    for name, df in frames.items():
        plan = _formatted(df)
        assert "RoundRobinPartitioning" not in plan, name
        for part in _pinned_exchanges(plan):
            assert part == "SinglePartition" or part.endswith(", 1)"), (name, part)
    assert _pinned_exchanges(_formatted(frames["ivf_near_dup"]))  # the cluster pin
    D.release_caches()


def test_large_input_fans_out_to_default_parallelism(spark, tmp_path):
    """One local parquet file larger than BYTES_PER_TASK x
    defaultParallelism: the decision is defaultParallelism, and spread adds
    the round-robin exchange because one file is one split."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from varpulis_spark import engine
    from varpulis_spark.engine import BYTES_PER_TASK, fanout_partitions, read_parquet

    par = spark.sparkContext.defaultParallelism
    rng = np.random.default_rng(3)
    n_rows = 64
    blob = (BYTES_PER_TASK * par) // n_rows + 1024
    path = str(tmp_path / "big.parquet")
    pq.write_table(
        pa.table({"k": np.arange(n_rows), "b": [rng.bytes(blob) for _ in range(n_rows)]}),
        path,
        compression="none",
    )
    assert os.path.getsize(path) > BYTES_PER_TASK * par
    df = read_parquet(spark, path)
    assert fanout_partitions(df) == par
    assert f"RoundRobinPartitioning({par})" in _formatted(engine.spread(df))
    (pin,) = _pinned_exchanges(_formatted(engine.spread_keys(df, ["k"])))
    assert pin.startswith("hashpartitioning(k#") and pin.endswith(f", {par})"), pin


def test_keyed_driver_same_rows_on_file_and_in_memory_input(spark, sf_dir):
    """A keyed partition_driver query (forecast) gives identical rows on a
    small parquet (one partition) and on the same rows as an in-memory
    frame, whose unknown size keeps the defaultParallelism fan-out."""
    from varpulis_spark.engine import fanout_partitions
    from varpulis_spark.operators.forecast import forecast

    s = Stream.events(spark, sf_dir).partition_by("user_id")
    mem = spark.createDataFrame(s.df.toPandas(), s.df.schema)
    assert fanout_partitions(s.df) == 1
    assert fanout_partitions(mem) == spark.sparkContext.defaultParallelism

    def rows(stream):
        out = forecast(stream, ["signup", "purchase", "error"], warmup=10, first_cols=[])
        return sorted(
            out.select(
                "user_id", "event_id", "next_step", "active_runs", "completion_prob"
            ).collect()
        )

    got = rows(s)
    assert got and got == rows(s._with(mem))


def test_fanout_decision_is_logged(spark, sf_dir, caplog):
    """Every decision leaves one DEBUG record on varpulis_spark.fanout:
    applied or skipped, the input bytes, the partition count."""
    import logging

    from varpulis_spark import engine

    docs = engine.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    size = os.path.getsize(f"{sf_dir}/documents.parquet")
    mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    par = spark.sparkContext.defaultParallelism
    with caplog.at_level(logging.DEBUG, logger="varpulis_spark.fanout"):
        engine.spread(docs)
        engine.spread(mem)
        engine.spread_keys(docs, ["doc_id"])
    records = [r for r in caplog.records if r.name == "varpulis_spark.fanout"]
    assert [r.getMessage() for r in records] == [
        f"fan-out skipped at spread: input bytes {size}, 1 partitions",
        f"fan-out applied at spread: input bytes unknown, {par} partitions",
        f"fan-out skipped at fanout_partitions: input bytes {size}, 1 partitions",
    ]
    assert {r.levelno for r in records} == {logging.DEBUG}
