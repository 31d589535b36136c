"""Fluent Stream builder — the VPL pipeline surface on DataFrames.

A `Stream` wraps a DataFrame plus event-time metadata and exposes the
reference's operator chain (crates/varpulis-core/src/ast.rs StreamOp /
crates/varpulis-runtime/src/engine/types.rs RuntimeOp) as lazy DataFrame
composition. Nothing executes until an action; Catalyst sees the whole
pipeline and optimizes across operators (filter pushdown through emit/select,
column pruning into the parquet scan, etc.) — the analog of the reference's
hand-rolled pipeline interpreter (engine/pipeline.rs:78 execute_pipeline),
done declaratively.

Operator parity map (reference → here):
- stream S = EventType (router)      → Stream.events(...).of_type("X")
- .where/.filter (RuntimeOp::WhereExpr) → .where()
- .select (SelectConfig)             → .select()
- .emit / .emit as Type (EmitConfig) → .emit()
- .distinct (DistinctState, LRU 100k)→ .distinct()
- .limit/.first (LimitState)         → .limit()/.first()
- .order_by (parse-only in ref)      → .order_by() (we support it)
- .partition_by (ast.rs:256)         → .partition_by()
- .window (window.rs)                → .window() → WindowedStream
- .aggregate/.having (aggregation.rs)→ WindowedStream.aggregate()/.having()
- merge(...) (MergeSource)           → varpulis_spark.merge(...)
- join(...).on(...).window(...)      → Stream.join(...)
- .enrich (EnrichConfig)             → .enrich()
- A as a -> B ... (SASE)             → .pattern(...) (operators/sase.py)
- .process (RuntimeOp::Process)      → .process() (mapInPandas flatMap)
"""

from __future__ import annotations

import os
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from varpulis_spark.functions import col as as_col
from varpulis_spark.operators import aggregates as agg_mod
from varpulis_spark.operators import joins as join_mod
from varpulis_spark.operators import windows as win_mod


def _float_fields(df: DataFrame) -> frozenset:
    """Floating-typed column names — drives the reference's all-NaN
    Sum → Float(0.0) semantics in compile_aggs."""
    return frozenset(n for n, t in df.dtypes if t in ("double", "float"))


class Stream:
    """A (possibly streaming) typed event flow."""

    def __init__(
        self,
        df: DataFrame,
        ts_col: str = "ts",
        keys: list[str] | None = None,
        order_col: str | None = None,
        name: str | None = None,
    ) -> None:
        self.df = df
        self.ts_col = ts_col
        self.keys = keys or []
        self._ordered = False  # set by .order_by(); .limit() respects it
        self._watermarked = False  # set by .watermark(); windows default it
        # secondary deterministic order column (e.g. event_id) used to break
        # equal-timestamp ties in order-dependent ops (ema/first/last/SASE)
        self.order_col = order_col
        self.name = name

    # -- construction -------------------------------------------------------

    @classmethod
    def from_df(cls, df: DataFrame, ts_col: str = "ts", order_col: str | None = None) -> "Stream":
        return cls(df, ts_col=ts_col, order_col=order_col)

    @classmethod
    def from_parquet(
        cls, spark: SparkSession, path: str, ts_col: str = "ts", order_col: str | None = None
    ) -> "Stream":
        from varpulis_spark.engine import read_parquet

        return cls(read_parquet(spark, path), ts_col=ts_col, order_col=order_col)

    @classmethod
    def events(cls, spark: SparkSession, sf_dir: str, event_type: str | None = None) -> "Stream":
        """The standard events table; optional event-type routing filter
        (reference router engine/router.rs:13-44 → a pushed-down filter)."""
        from varpulis_spark.engine import read_parquet

        df = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        if event_type:
            df = df.filter(F.col("event_type") == event_type)
        return cls(df, ts_col="ts", order_col="event_id")

    def _with(self, df: DataFrame, **overrides) -> "Stream":
        wm = overrides.pop("watermarked", self._watermarked)
        kw = dict(ts_col=self.ts_col, keys=self.keys, order_col=self.order_col, name=self.name)
        kw.update(overrides)
        s = Stream(df, **kw)
        s._watermarked = wm
        return s

    # -- stateless ops -------------------------------------------------------

    def of_type(self, event_type: str) -> "Stream":
        return self._with(self.df.filter(F.col("event_type") == event_type))

    def where(self, cond: Column | str) -> "Stream":
        cond = F.expr(cond) if isinstance(cond, str) else cond
        return self._with(self.df.filter(cond))

    filter = where  # alias, engine/mod.rs:1647-1650
    having = where  # post-aggregate filter (RuntimeOp::Having engine/types.rs:189)

    def select(self, *cols: str | Column, **named: Column | str,
               ) -> "Stream":
        """Strict projection (exactly the requested columns). The VPL
        front-end's `.select` uses keep_envelope() instead — the reference
        narrows `data` while the Event keeps its timestamp/type
        (event.rs:23-31), so windows downstream of a VPL select still
        order correctly; the direct API stays a plain projection."""
        proj = [as_col(c) for c in cols]
        proj += [as_col(expr).alias(alias) for alias, expr in named.items()]
        return self._with(self.df.select(*proj))

    def select_with_envelope(self, *cols: str | Column,
                             **named: Column | str) -> "Stream":
        """`.select` with the event envelope (time column, arrival order,
        event_type, partition keys) riding along implicitly when not
        re-projected — the reference's select semantics (the Event keeps
        its timestamp outside `data`, event.rs:23-31). Envelope names that
        are absent or DUPLICATED are skipped: a join of aliased sides
        carries each side's ts, where an unqualified ref is ambiguous and
        the select must resolve time explicitly."""
        projected = self.select(*cols, **named)
        out_names = set(projected.df.columns)
        have = self.df.columns
        extra = [
            F.col(c)
            for c in (self.ts_col, self.order_col, "event_type",
                      *(self.keys or []))
            if c and have.count(c) == 1 and c not in out_names
        ]
        if not extra:
            return projected
        proj = [as_col(c) for c in cols]
        proj += [as_col(expr).alias(alias) for alias, expr in named.items()]
        return self._with(self.df.select(*extra, *proj))

    def emit(self, event_type: str | None = None, /, **named: Column | str | Any) -> "Stream":
        """Project into a new output event (EmitConfig engine/types.rs:448).

        Keeps the time column; sets `event_type` when a new type name is
        given (`.emit as Type`). Positional-only so a VPL
        `emit(event_type: "X", ...)` kwarg lowers as a plain data column —
        the reference does the same (pipeline.rs:528: envelope type is the
        STREAM name; an `event_type` arg is just a field)."""
        proj: list[Column] = []
        cols = set(self.df.columns)
        if self.ts_col not in named and self.ts_col in cols:
            proj.append(F.col(self.ts_col))
        if event_type is not None and "event_type" not in named:
            proj.append(F.lit(event_type).alias("event_type"))
        if (
            self.order_col and self.order_col not in named
            and self.order_col != self.ts_col and self.order_col in cols
        ):
            proj.append(F.col(self.order_col))
        proj += [as_col(expr).alias(alias) for alias, expr in named.items()]
        return self._with(self.df.select(*proj))

    def with_column(self, alias: str, expr: Column | str) -> "Stream":
        return self._with(self.df.withColumn(alias, as_col(expr)))

    def distinct(self, *exprs: str | Column, ttl: str | None = None) -> "Stream":
        """Dedup by expression value, or the whole event when no args
        (DistinctState engine/types.rs:289-295; the reference bounds state
        with a 100k LRU — batch semantics keep first occurrence by time).

        Streaming inputs dispatch to the stateful twin (first-seen per key,
        optional `ttl` re-admits keys after event-time expiry)."""
        if self.df.isStreaming:
            from varpulis_spark.streaming import distinct_streaming

            # Column exprs must be materialized before the stateful groupBy
            # (str(Column) is a repr, not a resolvable name — ADVICE r6)
            src, cols, tmp = self, [], []
            for i, e in enumerate(exprs):
                if isinstance(e, str):
                    cols.append(e)
                else:
                    name = f"__dk{i}"
                    src = src.with_column(name, e)
                    cols.append(name)
                    tmp.append(name)
            if not cols:
                cols = self._payload_columns()  # whole-event distinct
            out = distinct_streaming(src, *cols, ttl=ttl)
            return out._with(out.df.drop(*tmp)) if tmp else out
        if ttl is not None:
            raise ValueError("distinct ttl applies to streaming inputs only")
        if not exprs:
            # whole-event dedup hashes the event DATA (DistinctState hashes
            # event.data — payload fields only, engine/types.rs:289): two
            # events with identical fields dedupe even though their
            # envelope (ts, arrival id) always differs. r9 bug: this was
            # df.distinct() over ALL columns — a silent no-op, since
            # event_id is unique per event.
            exprs = tuple(self._payload_columns())
            if not exprs:
                # no payload: all events equal — keep the FIRST-arriving one
                # (DistinctState keeps first; bare limit(1) kept an arbitrary
                # row whose envelope could differ, ADVICE r9)
                order = [F.col(self.ts_col)] + (
                    [F.col(self.order_col)] if self.order_col else []
                )
                return self._with(self.df.orderBy(*order).limit(1))
        # keep the earliest event per distinct key (arrival order analog)
        key_cols = [as_col(e).alias(f"__k{i}") for i, e in enumerate(exprs)]
        order = [F.col(self.ts_col)] + ([F.col(self.order_col)] if self.order_col else [])
        from pyspark.sql.window import Window as W

        df = self.df.select("*", *key_cols)
        spec = W.partitionBy(*[F.col(f"__k{i}") for i in range(len(exprs))]).orderBy(*order)
        df = df.withColumn("__rn", F.row_number().over(spec)).filter(F.col("__rn") == 1)
        return self._with(df.drop("__rn", *[f"__k{i}" for i in range(len(exprs))]))

    def _payload_columns(self) -> list[str]:
        """Data fields = everything outside the envelope (ts, arrival id,
        event type) — the reference's `event.data` map."""
        env = {self.ts_col, self.order_col, "event_type"}
        return [c for c in self.df.columns if c not in env]

    def prev(self, field: str, n: int = 1, default=None, alias: str | None = None) -> "Stream":
        """Previous-event tracker: `prev_<field>` = the field's value n
        events earlier within the partition keys, in (ts, order) sequence
        (delay/prev trackers, reference window.rs:980,1071). A plain
        window-function lag — one shuffle on the partition keys (reused by
        any following keyed op), JVM-side, no state beyond the sort."""
        from pyspark.sql.window import Window as W

        order = [F.col(self.ts_col)] + ([F.col(self.order_col)] if self.order_col else [])
        spec = W.partitionBy(*[F.col(k) for k in self.keys]).orderBy(*order)
        out = F.lag(F.col(field), n, default).over(spec)
        return self._with(self.df.withColumn(alias or f"prev_{field}", out))

    def limit(self, n: int) -> "Stream":
        """Pass at most n events (LimitState engine/types.rs:298-301 — the
        reference passes the FIRST n seen, i.e. arrival ≈ event-time order).
        After an explicit .order_by() the limit respects that order instead.
        Streaming inputs dispatch to the stateful per-key counter twin."""
        if self.df.isStreaming:
            from varpulis_spark.streaming import limit_streaming

            # global counter even when keyed — matches batch .limit and the
            # reference's single LimitState (types.rs:296-299; ADVICE r6)
            return limit_streaming(self, n, per_key=False)
        if self._ordered:
            return self._with(self.df.limit(n))
        order = [F.col(self.ts_col)] + ([F.col(self.order_col)] if self.order_col else [])
        return self._with(self.df.orderBy(*order).limit(n))

    def first(self) -> "Stream":
        return self.limit(1)

    def order_by(self, *cols: str | Column) -> "Stream":
        out = self._with(self.df.orderBy(*[as_col(c) for c in cols]))
        out._ordered = True
        return out

    def partition_by(self, *keys: str) -> "Stream":
        """Set grouping keys for subsequent windows/aggregates/patterns
        (ast.rs:256; per-key window instances engine/types.rs:318-380)."""
        return self._with(self.df, keys=list(keys))

    def late_split(self, out_of_order, allowed_lateness="0s") -> "tuple[Stream, Stream]":
        """`.allowed_lateness(30s)` + side output (ast.rs:319-320; drop/route
        logic engine/mod.rs:2330-2376): split into (on_time, late) by the
        replayed watermark. The watermark at each event is the max event
        time of all PRIOR arrivals (arrival = order_col order) minus
        `out_of_order`; an event is late when its ts < watermark −
        allowed_lateness. Batch analog of the reference's per-event check;
        in streaming Spark drops such rows silently — this operator makes
        the side output explicit.
        """
        from pyspark.sql.window import Window as W

        from varpulis_spark.functions import duration_ns

        if not self.order_col:
            raise ValueError("late_split needs an arrival-order column")
        ooo_us = duration_ns(out_of_order) // 1000
        late_us = duration_ns(allowed_lateness) // 1000
        spec = W.orderBy(F.col(self.order_col)).rowsBetween(W.unboundedPreceding, -1)
        wm = F.max(F.unix_micros(F.col(self.ts_col))).over(spec) - F.lit(ooo_us)
        df = self.df.withColumn(
            "__late",
            F.when(wm.isNull(), F.lit(False)).otherwise(
                F.unix_micros(F.col(self.ts_col)) < wm - F.lit(late_us)
            ),
        )
        on_time = self._with(df.filter(~F.col("__late")).drop("__late"))
        late = self._with(df.filter(F.col("__late")).drop("__late"))
        return on_time, late

    def watermark(self, out_of_order) -> "Stream":
        """withWatermark passthrough (reference .watermark(out_of_order:),
        runtime/src/watermark.rs:13-140; Spark's min-across-sources global
        watermark matches the reference's PerSourceWatermarkTracker)."""
        from varpulis_spark.functions import duration_interval_str

        return self._with(
            self.df.withWatermark(self.ts_col, duration_interval_str(out_of_order)),
            watermarked=True,
        )

    # -- windows / aggregation ----------------------------------------------

    def window(self, size=None, sliding=None, session=None, align: str = "epoch") -> "WindowedStream":
        """`.window(5m)`, `.window(5m, sliding=1m)`, `.window(100)`,
        `.window(100, sliding=25)`, `.window(session='5m')` — dispatch like
        engine/mod.rs:1357-1476 (duration → time, int → count, session kwarg
        → session)."""
        if session is not None:
            return WindowedStream(self, kind="session", gap=session)
        if isinstance(size, int) and not isinstance(size, bool):
            return WindowedStream(self, kind="count", size=size, slide=sliding)
        return WindowedStream(self, kind="time", size=size, slide=sliding, align=align)

    def aggregate(self, **aggs) -> "Stream":
        """Global/keyed aggregate without a window (whole-stream fold)."""
        cols = agg_mod.compile_aggs(
            aggs, self.ts_col, self.order_col, _float_fields(self.df)
        )
        if self.keys:
            out = self.df.groupBy(*[F.col(k) for k in self.keys]).agg(*cols)
        else:
            out = self.df.agg(*cols)
        return Stream(out, ts_col=self.ts_col, keys=self.keys)

    # -- joins ----------------------------------------------------------------

    def join(
        self,
        other: "Stream | DataFrame",
        on: str | list[str] | None = None,
        window=None,
        self_alias: str = "a",
        other_alias: str = "b",
        watermark=None,
        **more_sources: "Stream | DataFrame",
    ) -> "Stream":
        """Windowed n-way equi-join (join.rs JoinBuffer semantics).

        On streaming frames this lowers to a stream-stream inner join:
        `withWatermark` on every streaming side (delay = `watermark` or the
        window size) plus the equi-key and a timestamp±interval band, so
        Spark bounds the join state exactly like the reference's JoinBuffer
        eviction (join.rs:104-121)."""
        sources: dict[str, DataFrame] = {
            self_alias: self.df,
            other_alias: other.df if isinstance(other, Stream) else other,
        }
        for alias, s in more_sources.items():
            sources[alias] = s.df if isinstance(s, Stream) else s
        out = join_mod.windowed_join(
            sources, on=on, window=window, ts_col=self.ts_col, watermark=watermark
        )
        return Stream(out, ts_col=self.ts_col, order_col=None)

    def enrich(
        self,
        dimension: "Stream | DataFrame",
        key,
        dim_key: str,
        fields: list[str] | None = None,
        fallback: dict | None = None,
        drop_on_miss: bool = False,
        cache_ttl=None,
        timeout=None,
        status_cols: bool = False,
    ) -> "Stream":
        """.enrich(Conn, key:, fields:, cache_ttl:, timeout:, fallback:)
        (EnrichConfig engine/types.rs:248-263). `cache_ttl`/`timeout` are
        accepted for API parity: in batch the dimension is read once per
        job; in streaming it is re-read per micro-batch, which IS the TTL
        refresh (bounded by trigger interval). Per-row lookup timeouts
        don't exist in a join — misses surface as nulls/fallbacks."""
        dim = dimension.df if isinstance(dimension, Stream) else dimension
        out = join_mod.enrich(
            self.df, dim, key, dim_key, fields, fallback, drop_on_miss,
            status_cols=status_cols,
        )
        return self._with(out)

    # -- patterns (SASE+) -----------------------------------------------------

    def pattern(self, pattern) -> "Stream":
        """Run a SASE+ pattern (operators/sase.py) over this stream.

        On a streaming input this dispatches to the incremental NFA
        (streaming.apply_pattern_streaming) — the same program text runs
        in both modes, like trend_aggregate."""
        if self.df.isStreaming:
            from varpulis_spark.streaming import apply_pattern_streaming

            return apply_pattern_streaming(self, pattern)
        from varpulis_spark.operators.sase import apply_pattern_batch

        out = apply_pattern_batch(self, pattern)
        return Stream(out, ts_col=self.ts_col)

    def trend_aggregate(
        self,
        event_type: str | None = None,
        adjacent: Callable | None = None,
        value_field: str | None = None,
        within=None,
        adjacent_vec: Callable | None = None,
    ) -> "Stream":
        """GRETA trend aggregation (.trend_aggregate, ast.rs:321-323;
        greta.rs) — aggregates over all Kleene trends without enumeration.
        `adjacent_vec(cols, i) -> bool[i]` is the vectorized predicate form
        (preferred: one numpy comparison per event instead of per pair).

        On a streaming input this dispatches to the incremental push-loop
        form (streaming.trend_aggregate_streaming): a running per-key
        aggregate row per micro-batch, plus a monotonic `n_events`."""
        if self.df.isStreaming:
            from varpulis_spark.streaming import trend_aggregate_streaming

            return trend_aggregate_streaming(
                self, event_type, adjacent, value_field, within,
                adjacent_vec=adjacent_vec,
            )
        from varpulis_spark.operators.greta import trend_aggregate as _ta

        out = _ta(self, event_type, adjacent, value_field, within,
                  adjacent_vec=adjacent_vec)
        return Stream(out, ts_col=self.ts_col, keys=self.keys)

    # -- imperative escape hatch ---------------------------------------------

    def process(self, fn: Callable, schema) -> "Stream":
        """.process(expr) analog: per-event imperative logic that may emit
        0..n output events (RuntimeOp::Process engine/types.rs:203; emit
        collector evaluator.rs:70-100). `fn` is a pandas-batch iterator
        (mapInPandas) — Arrow-vectorized, not per-row Python."""
        return self._with(self.df.mapInPandas(fn, schema))

    # -- sinks -----------------------------------------------------------------

    def to_parquet(self, path: str, mode: str = "overwrite", partition_by: list[str] | None = None):
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def print(self, n: int = 20) -> "Stream":  # noqa: A003 - VPL .print()
        self.df.show(n, truncate=False)
        return self

    def log(self, level: str = "info", message: str | None = None, n: int = 5) -> "Stream":
        """`.log(level:, message:)` (LogConfig engine/types.rs:424-434) —
        dev-only diagnostic passthrough; logs a sample, returns self."""
        import logging

        logger = logging.getLogger("varpulis_spark")
        sample = [r.asDict() for r in self.df.limit(n).collect()]
        getattr(logger, level, logger.info)("%s %s", message or self.name or "stream", sample)
        return self

    def collect(self):
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


class WindowedStream:
    """A stream with a window assignment pending aggregation."""

    def __init__(self, stream: Stream, kind: str, size=None, slide=None, gap=None, align="epoch"):
        self.stream = stream
        self.kind = kind
        self.size = size
        self.slide = slide
        self.gap = gap
        self.align = align

    def trend_aggregate(
        self,
        event_type: str | None = None,
        adjacent: Callable | None = None,
        value_field: str | None = None,
        within=None,
        adjacent_vec: Callable | None = None,
    ) -> Stream:
        """Whole-span `within` for trend aggregation via pane composition
        (GRETA VLDB'17 §5; the reference composes span windows through
        window panes before the trend DP, engine/mod.rs window→analyzer
        chain): every trend is confined to one window pane, so the pane
        size IS the first→last span bound. `within` (if also given) still
        bounds CONSECUTIVE gaps inside the pane. Output: one aggregate row
        per (keys, window_start, window_end)."""
        s = self.stream
        if self.kind != "time":
            raise ValueError(
                "trend_aggregate composes with time windows (whole-span "
                "bound); use plain .trend_aggregate(within=...) for "
                "consecutive-gap bounds"
            )
        if s.df.isStreaming:
            from varpulis_spark.streaming import (
                trend_aggregate_windowed_streaming,
            )

            return trend_aggregate_windowed_streaming(
                s, self.size, self.slide, self.align, event_type,
                adjacent, value_field, within, adjacent_vec=adjacent_vec,
            )
        from varpulis_spark.operators.greta import trend_aggregate as _ta

        df = win_mod.explode_time_windows(
            s.df, s.ts_col, self.size, self.slide, self.align, s.keys
        )
        sub = Stream(
            df, ts_col=s.ts_col, order_col=s.order_col,
            keys=list(s.keys) + ["window_start", "window_end"],
        )
        out = _ta(sub, event_type, adjacent, value_field, within,
                  adjacent_vec=adjacent_vec)
        return Stream(out, ts_col="window_end", keys=s.keys)

    def aggregate(self, **aggs) -> Stream:
        s = self.stream
        if (
            s.df.isStreaming
            and self.kind in ("time", "session")
            and not s._watermarked
        ):
            # reference default: no `.watermark(out_of_order:)` means events
            # are treated as in-order (watermark = max event time seen,
            # PerSourceWatermarkTracker's zero-allowance default) — apply
            # the 0s watermark so append-mode window aggregates can emit
            s = s.watermark("0s")
        if s.df.isStreaming and self.kind == "count":
            # time/session windows stream natively (F.window incremental
            # state); count windows need the per-key arrival counter —
            # the stateful twin takes (fn, field) specs, not Columns
            raise NotImplementedError(
                "streaming count windows: use "
                "streaming.count_window_streaming(stream, size, "
                "{alias: (fn, field)}, slide=...) — the Column-expression "
                "form cannot be introspected into per-batch counters"
            )
        cols = agg_mod.compile_aggs(aggs, s.ts_col, s.order_col, _float_fields(s.df))
        key_cols = [F.col(k) for k in s.keys]

        if self.kind == "time":
            df, wcol = win_mod.time_window_cols(
                s.df, s.ts_col, self.size, self.slide, self.align, s.keys
            )
            grouped = df.groupBy(*key_cols, wcol.alias("__w"))
            out = grouped.agg(*cols)
            out = (
                out.withColumn("window_start", F.col("__w.start"))
                .withColumn("window_end", F.col("__w.end"))
                .drop("__w", "__shift_ts")
            )
            return Stream(out, ts_col="window_end", keys=s.keys)

        if self.kind == "session":
            wcol = win_mod.session_window_col(s.ts_col, self.gap)
            out = s.df.groupBy(*key_cols, wcol.alias("__w")).agg(*cols)
            out = (
                out.withColumn("window_start", F.col("__w.start"))
                .withColumn("window_end", F.col("__w.end"))
                .drop("__w")
            )
            return Stream(out, ts_col="window_end", keys=s.keys)

        # count windows
        df = win_mod.count_window_ids(
            s.df, s.ts_col, self.size, self.slide, s.keys, s.order_col
        )
        df = df.filter(F.col("__win_complete"))
        out = df.groupBy(*key_cols, F.col("__win").alias("window_id")).agg(*cols)
        return Stream(out, ts_col=s.ts_col, keys=s.keys)


def merge(*streams: Stream) -> Stream:
    """merge(a: A, b: B where cond, ...) — apply filters upstream, then union
    (MergeSource engine/types.rs:167-171)."""
    out = join_mod.merge_frames(*[s.df for s in streams])
    first = streams[0]
    return Stream(out, ts_col=first.ts_col, order_col=first.order_col)
