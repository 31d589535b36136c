"""`.forecast(...)` — online pattern-completion forecasting.

Reference: ForecastConfig engine/types.rs:232-246; runtime/src/pst/ — a
Prediction Suffix Tree Markov model over the SASE NFA (markov_chain.rs)
with Hawkes intensity modulation (hawkes.rs) and conformal prediction
intervals (conformal.rs). This module mirrors that architecture:

- **PST** (`OnlinePST`): variable-order Markov with back-off over contexts
  up to `max_depth`, trained online (online.rs / tree.rs analog).
- **NFA runs**: a linear SEQ pattern `t1 -> t2 -> ... -> tm` compiles to
  states 0..m; every t1 event starts a run, a run in state j advances on
  t_{j+1}, `within` expires runs. The forecast tracks the ACTUAL set of
  active runs per key and forecasts for the most advanced one
  (markov_chain.rs:219-224 best_run), not a single linear counter.
- **Completion probability**: the reference's forward fixed-point over the
  NFA (markov_chain.rs:351-397) — P(absorption into accept) iterated
  `max_simulation_steps` times with PST transition probabilities; with
  Hawkes enabled, transition probabilities are intensity-boosted and
  renormalized (markov_chain.rs:398-471).
- **Hawkes** (`HawkesIntensity`): O(1) recursive intensity
  `mu + (I - mu + alpha)·exp(-beta·dt)` with EMA parameter re-estimation
  (hawkes.rs:64-156); boost = clamp(I/mu, 1, 5).
- **Conformal** (`ConformalCalibrator`): sliding window of nonconformity
  scores |predicted - outcome| from disappeared runs (completed at accept
  vs expired), quantile at ceil((n+1)(1-coverage)) (conformal.rs).

Spark lowering: per-key `applyInPandas`; the model trains online in arrival
order so each event's forecast uses only its prefix (no lookahead leakage).
The loop runs over pre-extracted numpy arrays (itertuples-style), not
pandas iterrows.
"""

from __future__ import annotations

import math
from collections import deque

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# mode presets (engine/mod.rs:1990-2028 fast/accurate/balanced)
MODES = {
    "fast": {"max_depth": 3, "warmup": 50, "max_steps": 20},
    "balanced": {"max_depth": 5, "warmup": 100, "max_steps": 50},
    "accurate": {"max_depth": 7, "warmup": 200, "max_steps": 50},
}
MAX_ACTIVE_RUNS = 64  # bounded run state per key (reference caps SASE runs)


class OnlinePST:
    """Variable-order Markov with back-off over contexts up to max_depth.
    Plain-dict state (picklable — streaming snapshots the whole model)."""

    def __init__(self, max_depth: int = 3):
        self.max_depth = max_depth
        self.counts: dict[tuple, dict[str, int]] = {}
        self.totals: dict[tuple, int] = {}  # sum(counts[ctx].values()) cache
        self.alphabet: set[str] = set()

    def update(self, history: list[str], symbol: str) -> None:
        n = min(self.max_depth, len(history))
        self.update_sufs(
            [tuple(history[-d:]) if d else () for d in range(n + 1)], symbol
        )

    def update_sufs(self, sufs: list[tuple], symbol: str) -> None:
        """Hot-path twin of `update`: `sufs[d]` is the length-d suffix of the
        history (precomputed once per event by the engine and shared with
        `prob_sufs` — suffix tuples dominated the per-event profile)."""
        self.alphabet.add(symbol)
        counts, totals = self.counts, self.totals
        for ctx in sufs:
            c = counts.setdefault(ctx, {})
            c[symbol] = c.get(symbol, 0) + 1
            totals[ctx] = totals.get(ctx, 0) + 1

    def prob(self, history: list[str], symbol: str) -> float:
        """Back-off: deepest context with data wins; +1 smoothing."""
        n = min(self.max_depth, len(history))
        return self.prob_sufs(
            [tuple(history[-d:]) if d else () for d in range(n + 1)], symbol
        )

    def prob_sufs(self, sufs: list[tuple], symbol: str) -> float:
        v = max(1, len(self.alphabet))
        counts = self.counts
        for d in range(len(sufs) - 1, -1, -1):
            c = counts.get(sufs[d])
            if c:
                return (c.get(symbol, 0) + 1) / (self.totals[sufs[d]] + v)
        return 1.0 / v


class HawkesIntensity:
    """Self-exciting intensity tracker (hawkes.rs), O(1) per event."""

    EMA_ALPHA = 0.05
    MIN_EVENTS = 10

    def __init__(self):
        self.mu = 1e-9
        self.alpha = 0.5e-9
        self.beta = 1e-9
        self.intensity = 1e-9
        self.last_ns = 0
        self.n = 0
        self.ema_d = 0.0
        self.ema_d2 = 0.0

    def update(self, ts_ns: int) -> None:
        if self.n == 0:
            self.last_ns = ts_ns
            self.intensity = self.mu + self.alpha
            self.n = 1
            return
        dt = max(0.0, float(ts_ns - self.last_ns))
        if self.n == 1:
            self.ema_d, self.ema_d2 = dt, dt * dt
        else:
            a = self.EMA_ALPHA
            self.ema_d = a * dt + (1 - a) * self.ema_d
            self.ema_d2 = a * dt * dt + (1 - a) * self.ema_d2
        self.intensity = self.mu + (self.intensity - self.mu + self.alpha) * math.exp(
            -self.beta * dt
        )
        self.last_ns = ts_ns
        self.n += 1
        if self.n >= self.MIN_EVENTS and self.ema_d > 0:
            self.mu = max(1e-15, 1.0 / self.ema_d)
            var = self.ema_d2 - self.ema_d * self.ema_d
            if var > 0:
                self.beta = max(1e-15, 1.0 / math.sqrt(var))
            self.alpha = self.mu * 0.5
            self.intensity = max(self.intensity, self.mu)

    def boost(self, now_ns: int) -> float:
        if self.mu <= 0 or self.n == 0:
            return 1.0
        dt = max(0.0, float(now_ns - self.last_ns))
        cur = self.mu + (self.intensity - self.mu) * math.exp(-self.beta * dt)
        return min(5.0, max(1.0, cur / self.mu))


class ConformalCalibrator:
    """Sliding-window conformal intervals (conformal.rs)."""

    def __init__(self, coverage: float = 0.9, max_scores: int = 1000):
        self.scores: deque[float] = deque(maxlen=max_scores)
        self.coverage = coverage
        self._q: float | None = None

    def record(self, predicted: float, completed: bool) -> None:
        self.scores.append(abs(predicted - (1.0 if completed else 0.0)))
        self._q = None

    def interval(self, predicted: float) -> tuple[float, float]:
        if not self.scores:
            return 0.0, 1.0
        if self._q is None:
            n = len(self.scores)
            s = sorted(self.scores)
            idx = max(0, min(n - 1, int(math.ceil((n + 1) * (1 - self.coverage))) - 1))
            self._q = s[n - 1 - idx]
        return max(0.0, predicted - self._q), min(1.0, predicted + self._q)


def _completion_prob(
    state: int,
    m: int,
    p_next: list[float],
    boosts: list[float] | None,
    max_steps: int,
) -> float:
    """Forward fixed-point over the linear NFA (markov_chain.rs:351-471).

    States 0..m, accept = m; transition state j → j+1 on symbol t_{j+1}
    with PST probability p_next[j] (Hawkes-boosted and renormalized when
    `boosts` is given — for a linear chain each state has one transition,
    so renormalization reduces to scaling by the original magnitude,
    matching the reference's pst_total × (modulated/total) algebra)."""
    if state >= m:
        return 1.0
    # Scalar form of the fixed-point iteration, bit-exact: for a linear
    # chain, iteration k only introduces prob[m-k] = Π_{j=m-k}^{m-1} p'_j
    # (a right-fold product; everything else is already stable), and the
    # original loop stops after the first iteration whose new product is
    # ≤ 1e-10 (the `changed` epsilon) or after max_steps iterations —
    # deeper states then stay 0. Multiplication order matches new[j] =
    # p * prob[j+1] exactly (IEEE float × is commutative bit-for-bit).
    # The boost renormalization note from the iterative version still
    # applies: single-transition renormalization cancels for linear chains
    # (markov_chain.rs:447-452); the boost stays as a capped multiplier on
    # the step prob to preserve burst sensitivity.
    need = m - state
    p = 1.0
    level = 0
    limit = need if need < max_steps else max_steps
    while level < limit:
        j = m - 1 - level
        pj = p_next[j]
        if boosts is not None:
            pj = min(1.0, pj * boosts[j])
        p = pj * p
        level += 1
        if p <= 1e-10:
            break
    return min(1.0, p if level == need else 0.0)


class ForecastEngine:
    """Resumable per-key forecasting state: PST, Hawkes trackers, conformal
    calibrator, active NFA runs, stability counters. One `process()` call
    per event in arrival order; picklable, so the streaming path snapshots
    it in the state store between micro-batches (the batch path holds one
    per group for the whole group)."""

    def __init__(
        self, pattern_types, max_depth, warmup, confidence,
        hawkes, conformal, coverage, max_steps, span_ns,
    ):
        if len(pattern_types) < 2:
            raise ValueError(
                "forecast requires a pattern of >= 2 event types; got "
                f"{pattern_types!r} — a single-step pattern completes on "
                "arrival, so there is nothing to forecast"
            )
        self.pattern_types = pattern_types
        self.m = len(pattern_types)
        self.max_depth = max_depth
        self.warmup = warmup
        self.confidence = confidence
        self.max_steps = max_steps
        self.span_ns = span_ns
        self.pst = OnlinePST(max_depth)
        self.hawkes = {t: HawkesIntensity() for t in pattern_types} if hawkes else None
        self.cal = ConformalCalibrator(coverage) if conformal else None
        # suffix tuples of the (max_depth-capped) history, maintained
        # incrementally: _sufs[d] == tuple(history[-d:]); shared by PST
        # update and every prob lookup instead of re-slicing per call
        self._sufs: list[tuple] = [()]
        self._last_et: str | None = None
        # runs hold the START EVENT's row values (streaming can't reach
        # back into previous batches): [start_ns, state, last_pred, row]
        self.runs: list[list] = []
        self.last_pred: dict[int, float] = {}
        self.stable = 0
        self.avg_dt = 0.0  # EMA inter-event ns (markov_chain.rs:186-196)
        self.prev_now: int | None = None
        self.seen = 0

    def process(self, et: str, now: int, row) -> tuple | None:
        """Feed one event; returns (next_step, active_runs, prob, lo, hi,
        fconf, expected_us, first_row) when a forecast fires, else None."""
        m, types = self.m, self.pattern_types
        if self.prev_now is not None:
            d = max(0.0, float(now - self.prev_now))
            self.avg_dt = d if self.avg_dt == 0.0 else 0.95 * self.avg_dt + 0.05 * d
        self.prev_now = now

        # expire runs past the span (negative outcomes for conformal)
        if self.span_ns is not None:
            alive = []
            for r in self.runs:
                if now - r[0] > self.span_ns:
                    if self.cal is not None and r[2] is not None:
                        self.cal.record(r[2], completed=False)
                else:
                    alive.append(r)
            self.runs = alive

        # advance NFA runs
        completed_any = False
        for r in self.runs:
            if r[1] < m and et == types[r[1]]:
                r[1] += 1
                if r[1] == m:
                    completed_any = True
        if completed_any:
            for r in self.runs:
                if r[1] == m and self.cal is not None and r[2] is not None:
                    self.cal.record(r[2], completed=True)
            self.runs = [r for r in self.runs if r[1] < m]
        if et == types[0] and m > 1:
            self.runs.append([now, 1, None, row])
        if len(self.runs) > MAX_ACTIVE_RUNS:
            self.runs = sorted(self.runs, key=lambda r: -r[1])[:MAX_ACTIVE_RUNS]

        # online updates BEFORE forecasting (markov_chain.rs process order)
        self.pst.update_sufs(self._sufs, et)
        # history.append + [-max_depth:] slice, as suffix-tuple extension
        self._sufs = ([()] + [s + (et,) for s in self._sufs])[: self.max_depth + 1]
        self._last_et = et
        if self.hawkes is not None and et in self.hawkes:
            self.hawkes[et].update(now)

        self.seen += 1
        if self.seen < self.warmup or not self.runs:
            return None

        best = max(self.runs, key=lambda r: r[1])
        bstate = best[1]
        # only indices >= bstate feed _completion_prob / exp_steps — skip
        # the dead PST/Hawkes lookups for already-passed steps
        p_next = [0.0] * m
        for j in range(bstate, m):
            p_next[j] = self.pst.prob_sufs(self._sufs, types[j])
        boosts = None
        if self.hawkes is not None:
            boosts = [1.0] * m
            for j in range(bstate, m):
                boosts[j] = self.hawkes[types[j]].boost(now)
        prob = _completion_prob(bstate, m, p_next, boosts, self.max_steps)
        best[2] = prob

        # prediction-stability confidence (markov_chain.rs:279-318)
        skey = (best[1] << 8) ^ hash(self._last_et) % 251
        prev = self.last_pred.get(skey)
        self.last_pred[skey] = prob
        if prev is not None:
            self.stable = (
                self.stable + 1 if abs(prob - prev) < 0.05 else max(0, self.stable - 1)
            )
        fconf = min(1.0, self.stable / 10.0)
        lo, hi = self.cal.interval(prob) if self.cal is not None else (0.0, 1.0)
        if prob < self.confidence:
            return None
        # expected waiting time: per-step geometric waits × EMA gap
        # (deterministic analog of estimate_waiting_time, markov_chain.rs)
        exp_steps = sum(1.0 / max(p_next[j], 1e-3) for j in range(best[1], m))
        exp_us = int(min(exp_steps * self.avg_dt, 9e17) / 1_000)
        return best[1], len(self.runs), prob, lo, hi, fconf, exp_us, best[3]


def _resolve_params(mode, max_depth, warmup, horizon, within):
    from varpulis_spark.functions import duration_ns

    preset = MODES.get(mode or "balanced", MODES["balanced"])
    max_depth = max_depth if max_depth is not None else preset["max_depth"]
    warmup = warmup if warmup is not None else preset["warmup"]
    span = horizon if horizon is not None else within
    span_ns = duration_ns(span) if span is not None else None
    return max_depth, warmup, preset["max_steps"], span_ns


def forecast(
    stream,
    pattern_types: list[str],
    horizon=None,
    max_depth: int | None = None,
    warmup: int | None = None,
    confidence: float = 0.0,
    within=None,
    hawkes: bool = True,
    conformal: bool = True,
    mode: str | None = None,
    coverage: float = 0.9,
    first_cols: list[str] | None = None,
) -> DataFrame:
    """Per event (after warmup, while runs are active): the probability that
    the most advanced active run completes, with conformal bounds.

    Output columns: keys…, id (order column), next_step (best run's NFA
    state), active_runs, completion_prob, prob_lo, prob_hi,
    forecast_confidence. Rows below `confidence` are filtered (the
    reference suppresses emission below the threshold).

    `horizon`/`within`: run-expiry span (duration string or ns); expired
    runs count as negative outcomes for conformal calibration.

    `first_cols`: which input columns to re-emit as `__first_*` run-start
    captures (None = all, reference semantics). Column pruning cannot
    cross mapInPandas, so callers that project few/no first-alias fields
    should pass the exact set — at sf1 the full-width default Arrow-ships
    ~650k × full-row `__first_*` payloads (including the `props` JSON
    string) that a downstream `.select` then throws away.
    """
    max_depth, warmup, max_steps, span_ns = _resolve_params(
        mode, max_depth, warmup, horizon, within
    )

    df = stream.df
    ts_col = stream.ts_col
    order_col = stream.order_col
    keys = stream.keys
    if not keys:
        raise ValueError("forecast requires partition_by (per-key model)")
    sort_cols = [ts_col] + ([order_col] if order_col else [])

    key_fields = ", ".join(f"{k} {t}" for k, t in df.dtypes if k in keys)
    id_field = order_col or ts_col
    id_type = dict(df.dtypes)[id_field]
    # the best run's FIRST event is re-emitted as __first_* columns so
    # emit projections can reference the pattern's first-step alias
    # (later aliases are unbound at forecast time, reference semantics)
    all_cols = [c for c, _t in df.dtypes]
    if first_cols is None:
        in_cols = all_cols
    else:
        missing = [c for c in first_cols if c not in all_cols]
        if missing:
            raise ValueError(f"first_cols not in input: {missing}")
        in_cols = list(first_cols)
    dt = dict(df.dtypes)
    first_fields = ", ".join(f"__first_{c} {dt[c]}" for c in in_cols)
    # the triggering event's time rides along (forecast events are
    # windowable/mergeable downstream like any other event)
    carry_ts = order_col is not None and ts_col != id_field
    ts_part = f"{ts_col} timestamp, " if carry_ts else ""
    schema = (
        f"{key_fields}, {id_field} {id_type}, {ts_part}next_step int, "
        "active_runs int, completion_prob double, prob_lo double, "
        "prob_hi double, forecast_confidence double, expected_time_us long"
        + (", " + first_fields if first_fields else "")
    )
    out_cols = (
        list(keys)
        + [id_field]
        + ([ts_col] if carry_ts else [])
        + [
            "next_step", "active_runs", "completion_prob",
            "prob_lo", "prob_hi", "forecast_confidence", "expected_time_us",
        ]
        + [f"__first_{c}" for c in in_cols]
    )
    meta_cols = ["next_step", "active_runs", "completion_prob",
                 "prob_lo", "prob_hi", "forecast_confidence",
                 "expected_time_us"]

    # per-PARTITION driver with PARTITION-LEVEL output assembly: one engine
    # per key (boundary-sliced), but fired rows accumulate as flat index
    # arrays and materialize into a single DataFrame per partition. The
    # engine's `row` payload is opaque — batch passes the ROW INDEX
    # (streaming still passes real row tuples: prior-batch rows are gone by
    # fire time). Per-GROUP pandas construction (15k tiny DataFrames +
    # concat at sf1) dominated the wall over the model itself; measured
    # ~4 s → ~2 s at sf1.
    from varpulis_spark.engine import spread_keys
    from varpulis_spark.operators.partition_driver import (
        collect_partition,
        sorted_key_bounds,
    )

    def run_partition(batches):
        pdf = collect_partition(batches)
        if pdf is None or pdf.empty:
            yield pd.DataFrame(columns=out_cols)
            return
        pdf, bounds = sorted_key_bounds(pdf, keys, sort_cols)
        ets_all = pdf["event_type"].to_numpy()
        ts_all = pdf[ts_col].astype("int64").to_numpy()
        f_i: list[int] = []
        f_first: list[int] = []
        f_meta: list[tuple] = []
        for s0, s1 in zip(bounds[:-1], bounds[1:]):
            eng = ForecastEngine(
                pattern_types, max_depth, warmup, confidence,
                hawkes, conformal, coverage, max_steps, span_ns,
            )
            for i in range(s0, s1):
                fired = eng.process(ets_all[i], int(ts_all[i]), i)
                if fired is None:
                    continue
                step, nruns, prob, lo, hi, fconf, exp_us, i0 = fired
                f_i.append(i)
                f_first.append(i0)
                f_meta.append((step, nruns, prob, lo, hi, fconf, exp_us))
        if not f_i:
            yield pd.DataFrame(columns=out_cols)
            return
        out = {}
        for k in keys:
            out[k] = pdf[k].to_numpy()[f_i]
        out[id_field] = pdf[id_field].to_numpy()[f_i]
        if carry_ts:
            out[ts_col] = pdf[ts_col].to_numpy()[f_i]
        for ci, mc in enumerate(meta_cols):
            out[mc] = [t[ci] for t in f_meta]
        for c in in_cols:
            out[f"__first_{c}"] = pdf[c].to_numpy()[f_first]
        yield pd.DataFrame(out, columns=out_cols)

    return spread_keys(df, keys).mapInPandas(run_partition, schema)
