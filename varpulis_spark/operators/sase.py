"""SASE+ pattern matching — sequences, Kleene closure, negation, within.

Reference surface: crates/varpulis-runtime/src/sase.rs (6313 LoC NFA engine,
after Wu/Diao/Rizvi SIGMOD'06):
- `A as a -> B where cond as b -> ...` (StreamOp::FollowedBy ast.rs:301-302,
  compiled to SasePattern::Seq by engine/compiler.rs:127-247)
- Kleene `B+ / B* / B?` capturing ALL combinations (exhaustive SASE+, not
  greedy), ZDD-backed in the reference (sase.rs:553-672) with hard caps
  MAX_KLEENE_EVENTS=20 (sase.rs:36-39) and 10k enumerated results
  (sase.rs:41-44) — we enumerate explicitly under the same caps.
- Negation `.not(E where cond)` — match confirmed only if the negated event
  does NOT occur in the guarded interval (NegationConstraint sase.rs:675-716).
- `.within(5m)` relative time budget from the first matched event
  (sase.rs:1733-1745, is_timed_out sase.rs:1790-1806).
- Selection strategies SkipTillAnyMatch (default, sase.rs:1920),
  SkipTillNextMatch, StrictContiguous (advance logic sase.rs:3103-3340).
- `partition by` → independent NFA universe per key (sase.rs:1728,1946).

Spark lowering (batch): the pattern is an opaque per-key stateful computation,
so it runs as `df.groupBy(partition_keys).applyInPandas(run_nfa, out_schema)`
— Arrow-batched, one Python NFA per key group, embarrassingly parallel across
keys. Before the stateful op we push down an `event_type isin (...)` prefilter
(the analog of the reference's EventTypeIndex, sase.rs:917-1005) so the
shuffle only carries relevant events; Catalyst pushes that filter into the
parquet scan. At 100 TB the shuffle is keyed by the partition column(s) —
the same layout any keyed aggregation uses; per-group work is bounded by the
`within` horizon pruning and the reference's own result caps.

Patterns without `partition_by` funnel into ONE task (the reference has the
identical constraint: one NFA universe). We keep it for parity but a warning
comment marks the hazard for large data.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from varpulis_spark.functions import duration_ns

# Reference caps (sase.rs:36-44)
MAX_KLEENE_EVENTS = 20
MAX_MATCHES_PER_GROUP = 10_000

SKIP_TILL_ANY = "skip_till_any_match"      # default, sase.rs:1920
SKIP_TILL_NEXT = "skip_till_next_match"
STRICT = "strict_contiguous"


@dataclass
class Step:
    """One positive or negated pattern step.

    `where` is a Python predicate `(event: dict, bindings: dict) -> bool`;
    `bindings` maps earlier aliases to their bound event dict (or list of
    dicts for a Kleene alias — including the in-progress closure itself, so a
    Kleene predicate can reference `b[-1]` like the reference's iterative
    conditions).

    `where_sql` is the same predicate as a SQL boolean over alias-qualified
    columns (e.g. "b.value > a.value"). When EVERY predicated step carries
    where_sql (and the pattern is Kleene-free, skip-till-any), the pattern
    compiles to native Catalyst joins instead of the Python NFA — the
    filter-pushdown-into-NFA idea (compiler.rs:146-156) taken to its Spark
    conclusion. Both forms must express the same predicate.
    """

    event_type: str | None
    alias: str
    where: Callable[[dict, dict], bool] | None = None
    kleene: str | None = None  # '+', '*', '?'
    negated: bool = False
    where_sql: str | None = None
    gap_ns: int | None = None  # per-edge `.within` between this step and
    # its predecessor (mid-chain within, e.g. hvac_demo.vpl
    # CompressorShortCycle `A -> B .within(5m) -> C .within(5m)`)
    deferred: bool = False  # Kleene-only, maximal mode: postponed predicate
    # (SIGMOD'14) — `where` is NOT checked at accumulation; it is applied
    # per-COMBINATION at run completion via the ZDD capture
    # (enumerate_with_filter, sase.rs:3121-3124) with signature
    # (closure_event_list, bindings) -> bool.


def step(event_type, alias, where=None, kleene=None, where_sql=None,
         deferred=False):
    return Step(event_type, alias, where=where, kleene=kleene,
                where_sql=where_sql, deferred=deferred)


def not_step(event_type, alias="_not", where=None, where_sql=None):
    return Step(event_type, alias, where=where, negated=True, where_sql=where_sql)


@dataclass
class Pattern:
    """Compiled SASE+ pattern (SasePattern analog, engine/compiler.rs:127)."""

    steps: list[Step]
    within: Any = None                      # duration literal or None
    partition_by: list[str] | None = None
    strategy: str = SKIP_TILL_ANY
    # output projection: out_col -> (alias, field). Kleene aliases yield
    # arrays; ("alias", None) binds the whole closure size is via special
    # field "__count".
    emit: dict[str, tuple[str, str]] = dc_field(default_factory=dict)
    max_matches: int = MAX_MATCHES_PER_GROUP
    force_nfa: bool = False  # disable join compilation (testing/debug)
    # Kleene emission mode:
    # - "combinations" (default): exhaustive SASE+ — every valid closure
    #   subset is its own match (our oracle-checked batch semantic).
    # - "maximal": reference RUN semantics (sase.rs:2691-2735 — runs never
    #   fork): one run per initial event, the closure accumulates greedily,
    #   the first next-step event completes and CONSUMES the run
    #   (complete_run, sase.rs:3120-3131) → one match with the maximal
    #   closure; a trailing closure emits one match per accumulated prefix
    #   (CompleteAndContinue, sase.rs:3195-3201); a `deferred` predicate
    #   enumerates passing combinations from the ZDD capture at completion
    #   (CompleteMulti → enumerate_with_filter).
    kleene_emit: str = "combinations"
    # AND(A,B): conjunction in ANY order (AndState sase.rs:738-772) — the
    # pattern matches every ts-order permutation of its positive steps.
    # Lowered as the union of the per-permutation sequences (each event set
    # matches under exactly one ordering, so the union is duplicate-free).
    any_order: bool = False
    # BP-01 run management (sase.rs:1865/1919 `max_runs: 10000`, strategies
    # sase.rs:790-812). A "run" in the buffer-based streaming engine is an
    # ANCHOR event — one that can open a partial match (try_start_run_shared,
    # sase.rs:2410). The cap bounds anchors PER PARTITION KEY
    # (handle_backpressure_partitioned, sase.rs:2520). Strategies:
    #   "drop"   (default) — new runs silently dropped at the cap
    #   "error"  — same as drop in the reference's simple process() path
    #              (sase.rs:2425-2441); counted separately
    #   "evict_oldest"         — evict the min-started_at run (sase.rs:2441)
    #   "evict_least_progress" — evict the run with fewest next-step
    #                            candidates ahead of it (sase.rs:2460)
    #   "sample:<rate>"        — accept over-cap runs at probability `rate`
    #                            (sase.rs:804-808), paced deterministically
    #                            for replay; accepts evict-oldest for room
    # Batch mode ignores these: a batch group is finite and already bounded
    # by MAX_KLEENE_EVENTS / max_matches; the cap exists to bound STREAMING
    # state on hot keys.
    max_runs: int = 10_000
    backpressure: str = "drop"

    def within_ns(self) -> int | None:
        return duration_ns(self.within) if self.within is not None else None

    def relevant_types(self) -> list[str] | None:
        types = set()
        for s in self.steps:
            if s.event_type is None:
                return None  # wildcard step → cannot prefilter
            types.add(s.event_type)
        return sorted(types)

    def join_compilable(self) -> bool:
        """True when the pattern lowers to pure Catalyst joins: Kleene-free,
        skip-till-any (all-combinations ⇔ relational cross-match), typed
        steps, and every predicate available as SQL. The match cap is an NFA
        state bound (sase.rs:41-44) — joins have no state to bound, so the
        cap is not applied on this path (documented divergence; the
        reference cap exists to protect enumeration memory)."""
        if self.force_nfa or self.strategy != SKIP_TILL_ANY:
            return False
        for s in self.steps:
            if s.kleene or s.event_type is None:
                return False
            if s.where is not None and s.where_sql is None:
                return False
        return True


# ---------------------------------------------------------------------------
# NFA enumeration over one ts-sorted key group
#
# The engine is INDEX-BASED: the group's events live as column arrays
# (numpy), an event is its integer position, and bindings hold lazy
# `_EventView`s. Per-step candidate indices are precomputed once (the
# EventTypeIndex analog, sase.rs:917-1005) and every time-bound (within
# deadlines, negation intervals) is a `searchsorted` on the candidate ts
# array instead of a linear scan — enumeration work is proportional to
# viable candidates, not group size.
# ---------------------------------------------------------------------------


class _EventView:
    """Dict-like lazy view of one event over the group's column arrays.

    Predicates receive these instead of materialized per-event dicts
    (`to_dict("records")` was the NFA's dominant constant factor)."""

    __slots__ = ("cols", "i")

    def __init__(self, cols: dict, i: int):
        self.cols = cols
        self.i = i

    def get(self, k, default=None):
        a = self.cols.get(k)
        return default if a is None else a[self.i]

    def __getitem__(self, k):
        return self.cols[k][self.i]

    def __contains__(self, k):
        return k in self.cols


def _run_nfa(cols: dict, ts: "np.ndarray", n: int, pattern: Pattern) -> list[dict]:
    """Enumerate matches over one key group given column arrays + int64-ns
    `ts` (sorted ascending, ties already ordered by the caller's sort)."""
    out: list[dict] = []
    steps = pattern.steps
    within = pattern.within_ns()
    strategy = pattern.strategy
    max_matches = pattern.max_matches
    et = cols.get("event_type")
    maximal = pattern.kleene_emit == "maximal"
    if maximal and strategy == STRICT and any(s.kleene for s in steps):
        raise ValueError(
            "kleene_emit='maximal' is not defined for strict_contiguous "
            "closures; use the default 'combinations' mode"
        )
    if any(s.deferred and not s.kleene for s in steps):
        raise ValueError("deferred=True is only valid on a Kleene step")
    if any(s.deferred for s in steps) and not maximal:
        raise ValueError(
            "deferred Kleene predicates require kleene_emit='maximal' "
            "(the default exhaustive mode evaluates predicates inline)"
        )

    idx_cache: dict = {}
    cts_cache: dict = {}

    def cand(s: Step) -> "np.ndarray":
        key = s.event_type
        got = idx_cache.get(key)
        if got is None:
            if key is None:
                got = np.arange(n, dtype=np.int64)
            elif et is None:
                got = np.empty(0, dtype=np.int64)  # typed step, untyped events
            else:
                got = np.nonzero(et == key)[0]
            idx_cache[key] = got
            cts_cache[key] = ts[got]
        return got

    def cand_ts(s: Step) -> "np.ndarray":
        cand(s)
        return cts_cache[s.event_type]

    def type_at(s: Step, i: int) -> bool:
        if s.event_type is None:
            return True
        return et is not None and et[i] == s.event_type

    def view(i: int) -> _EventView:
        return _EventView(cols, i)

    def pred_ok(s: Step, i: int, b: dict) -> bool:
        if s.where is None:
            return True
        try:
            return bool(s.where(view(i), b))
        except (KeyError, TypeError):
            return False

    # negation classification (two reference mechanisms):
    # - negated steps BEFORE the last positive step are GLOBAL negations
    #   (`.not()`, GlobalNegation sase.rs:1842-1849): a matching event
    #   arriving while the run is active invalidates it — the check runs
    #   BEFORE run advancement (sase.rs:2204), so the veto span in arrival
    #   order is (first_event, last_event] INCLUSIVE of the completing
    #   event itself.
    # - TRAILING negated steps are NegationConstraint states
    #   (sase.rs:675-716): the match is confirmed only if no forbidden
    #   event arrives before the within-deadline (event-time confirmation).
    # The compiler may interleave the same guard objects between several
    # pairs; dedupe by identity.
    _pos_positions = [i for i, s in enumerate(pattern.steps) if not s.negated]
    _last_pos = _pos_positions[-1] if _pos_positions else -1
    _seen_negs: set[int] = set()
    global_negs: list[Step] = []
    trailing_negs: list[Step] = []
    for _i, _s in enumerate(pattern.steps):
        if _s.negated and id(_s) not in _seen_negs:
            _seen_negs.add(id(_s))
            (trailing_negs if _i > _last_pos else global_negs).append(_s)
    steps = [s for s in steps if not s.negated]

    def span_clear(neg: Step, lo_idx: int, hi_idx: int, b: dict) -> bool:
        """True when NO negated-type event satisfying pred has arrival index
        in (lo_idx, hi_idx] — the global-negation veto span. Index order IS
        arrival order (caller sorts by (ts, order)).

        The predicate is evaluated against the bindings AS CAPTURED WHEN
        the negated event arrived (reference check_global_negations uses
        run.captured at arrival time): aliases bound to events at or after
        the negated event's index are withheld — a predicate referencing
        them cannot veto (pred_ok's KeyError path)."""
        ni = cand(neg)
        a = int(np.searchsorted(ni, lo_idx, side="right"))
        z = int(np.searchsorted(ni, hi_idx, side="right"))
        if a >= z:
            return True
        if neg.where is None:
            return False
        for j in ni[a:z]:
            j = int(j)
            jb = {}
            for al, v in b.items():
                if isinstance(v, list):
                    before = [x for x in v if x.i < j]
                    if before:
                        jb[al] = before
                elif v.i < j:
                    jb[al] = v
            if pred_ok(neg, j, jb):
                return False
        return True

    def trailing_clear(neg: Step, last_idx: int, hi_ts: int, b: dict) -> bool:
        """True when NO negated-type event satisfying pred arrives after the
        match's last event and before the within-deadline (exclusive) —
        NegationConstraint confirmation, sase.rs:702-716."""
        ni, nts = cand(neg), cand_ts(neg)
        a = int(np.searchsorted(ni, last_idx, side="right"))
        z = int(np.searchsorted(nts, hi_ts, side="left"))
        if a >= z:
            return True
        if neg.where is None:
            return False
        for j in ni[a:z]:
            if pred_ok(neg, int(j), b):
                return False
        return True

    def finish(b: dict, first_ts: int | None, first_idx: int, last_idx: int) -> None:
        for neg in global_negs:
            if not span_clear(neg, first_idx, last_idx, b):
                return
        if trailing_negs:
            hi = (first_ts + within) if (within is not None and first_ts is not None) else (
                int(ts[-1]) + 1 if n else 0
            )
            for neg in trailing_negs:
                if not trailing_clear(neg, last_idx, hi, b):
                    return
        emit_match(b)

    def emit_row(b: dict) -> None:
        row = {}
        for out_col, (alias, fld) in pattern.emit.items():
            v = b[alias]
            if isinstance(v, list):
                row[out_col] = len(v) if fld == "__count" else [x.get(fld) for x in v]
            else:
                row[out_col] = v.get(fld)
        out.append(row)

    def emit_match(b: dict) -> None:
        captures = [(k, v) for k, v in b.items() if k.startswith("__dc_")]
        if not captures:
            emit_row(b)
            return
        # deferred Kleene capture(s): one output row per predicate-passing
        # combination (CompleteMulti path, enumerate_with_filter sase.rs)
        def expand(rest: list, bound: dict) -> None:
            if len(out) >= max_matches:
                return
            if not rest:
                emit_row(bound)
                return
            key, kc = rest[0]
            alias = key[len("__dc_"):]
            raw = getattr(kc, "_raw_pred", None)
            kc.deferred_predicate = (
                (lambda evs, _b=bound, _p=raw: bool(_p(evs, _b)))
                if raw is not None else None
            )
            for combo in kc.enumerate_with_filter(max_matches - len(out)):
                b2 = dict(bound)
                b2[alias] = combo
                expand(rest[1:], b2)
                if len(out) >= max_matches:
                    return

        clean = {k: v for k, v in b.items() if not k.startswith("__dc_")}
        expand(captures, clean)

    def advance(si: int, min_i: int, b: dict, first_ts: int | None,
                first_idx: int, prev_ts: int, prev_idx: int) -> None:
        if len(out) >= max_matches:
            return
        if si == len(steps):
            finish(b, first_ts, first_idx, prev_idx)
            return

        s = steps[si]
        deadline = (first_ts + within) if (within is not None and first_ts is not None) else None
        # per-edge within: this step must arrive within gap_ns of the
        # previous bound event
        if s.gap_ns is not None and first_ts is not None:
            edge = prev_ts + s.gap_ns
            deadline = edge if deadline is None else min(deadline, edge)

        if s.kleene:
            if maximal:
                advance_kleene_maximal(s, si, min_i, b, first_ts, first_idx,
                                       prev_ts, prev_idx)
            else:
                advance_kleene(s, si, min_i, b, first_ts, first_idx,
                               prev_ts, prev_idx)
            return

        if strategy == STRICT and first_ts is not None:
            i = prev_idx + 1
            if i >= n:
                return
            if deadline is not None and ts[i] > deadline:
                return
            if not (type_at(s, i) and pred_ok(s, i, b)):
                return  # contiguity broken
            ti = int(ts[i])
            b2 = dict(b)
            b2[s.alias] = view(i)
            advance(si + 1, i + 1, b2, first_ts, first_idx, ti, i)
            return

        ci, cts = cand(s), cand_ts(s)
        start = int(np.searchsorted(ci, min_i, side="left"))
        stop = int(np.searchsorted(cts, deadline, side="right")) if deadline is not None else len(ci)
        for p in range(start, stop):
            i = int(ci[p])
            if not pred_ok(s, i, b):
                continue
            ti = int(ts[i])
            b2 = dict(b)
            b2[s.alias] = view(i)
            advance(si + 1, i + 1, b2, first_ts if first_ts is not None else ti,
                    first_idx if first_ts is not None else i, ti, i)
            if strategy != SKIP_TILL_ANY and first_ts is not None:
                return  # skip-till-next: only the first viable candidate
            if len(out) >= max_matches:
                return

    def advance_kleene(s: Step, si: int, min_i: int, b: dict,
                       first_ts: int | None, first_idx: int,
                       prev_ts: int, prev_idx: int) -> None:
        deadline0 = (first_ts + within) if (within is not None and first_ts is not None) else None
        min_needed = 1 if s.kleene == "+" else 0
        max_take = 1 if s.kleene == "?" else MAX_KLEENE_EVENTS
        ci, cts = cand(s), cand_ts(s)

        def extend(chosen: list[int], from_i: int, last_idx: int) -> None:
            if len(out) >= max_matches:
                return
            if len(chosen) >= min_needed:
                b2 = dict(b)
                b2[s.alias] = [view(j) for j in chosen]
                nts = int(ts[chosen[-1]]) if chosen else prev_ts
                nidx = chosen[-1] if chosen else prev_idx
                advance(si + 1, (last_idx + 1) if chosen else min_i, b2,
                        first_ts if first_ts is not None else (int(ts[chosen[0]]) if chosen else None),
                        first_idx if first_ts is not None else (chosen[0] if chosen else -1),
                        nts, nidx)
            if len(chosen) >= max_take:
                return
            d = deadline0
            if d is None and within is not None and chosen:
                # closure opened the match: its first chosen event starts
                # the within clock, bounding the closure itself too
                d = int(ts[chosen[0]]) + within

            if strategy == STRICT and (first_ts is not None or chosen):
                base = chosen[-1] if chosen else prev_idx
                i = base + 1
                if i >= n:
                    return
                if d is not None and ts[i] > d:
                    return
                b_probe = dict(b)
                b_probe[s.alias] = [view(j) for j in chosen]
                if not (type_at(s, i) and pred_ok(s, i, b_probe)):
                    return
                chosen.append(i)
                extend(chosen, i + 1, i)
                chosen.pop()
                return  # strict explores only the contiguous next event

            start = int(np.searchsorted(ci, from_i, side="left"))
            stop = int(np.searchsorted(cts, d, side="right")) if d is not None else len(ci)
            has_pred = s.where is not None
            for p in range(start, stop):
                i = int(ci[p])
                if has_pred:
                    b_probe = dict(b)
                    b_probe[s.alias] = [view(j) for j in chosen]
                    if not pred_ok(s, i, b_probe):
                        continue
                chosen.append(i)
                extend(chosen, i + 1, i)
                chosen.pop()
                if strategy != SKIP_TILL_ANY:
                    return
                if len(out) >= max_matches:
                    return

        extend([], min_i, prev_idx)

    def advance_kleene_maximal(s: Step, si: int, min_i: int, b: dict,
                               first_ts: int | None, first_idx: int,
                               prev_ts: int, prev_idx: int) -> None:
        """Reference RUN semantics for a Kleene step (kleene_emit='maximal'):
        one greedy accumulation per prefix binding — runs never fork
        (process_runs_shared, sase.rs:2691-2735).

        - trailing closure (epsilon-to-accept): emit one match per
          accumulated prefix (CompleteAndContinue, sase.rs:3195-3201);
        - mid-pattern: the FIRST viable next-step event closes the closure
          with everything accumulated so far and CONSUMES the run
          (Complete, sase.rs:3120-3131) — one match per prefix binding;
        - `deferred` predicate: accumulation is type-only into a ZDD
          KleeneCapture; combinations are enumerated and filtered at
          completion (CompleteMulti, enumerate_with_filter).
        """
        if len(out) >= max_matches:
            return
        min_needed = 1 if s.kleene == "+" else 0
        max_take = 1 if s.kleene == "?" else MAX_KLEENE_EVENTS
        trailing = si == len(steps) - 1
        nxt = steps[si + 1] if not trailing else None
        if nxt is not None and nxt.kleene:
            raise ValueError(
                "kleene_emit='maximal' does not support adjacent Kleene "
                "steps (the closure is closed by its successor step)"
            )
        deadline0 = (first_ts + within) if (within is not None and first_ts is not None) else None

        def deadline_for(chosen: list[int]) -> int | None:
            d = deadline0
            if d is None and within is not None and chosen:
                # closure opened the match: its first chosen event starts
                # the within clock
                d = int(ts[chosen[0]]) + within
            return d

        kc = None
        if s.deferred:
            from varpulis_spark.operators.zdd import KleeneCapture

            kc = KleeneCapture()
            # the two-arg predicate binds at COMPLETION time (emit_match),
            # so it sees every alias bound by then — parity with
            # evaluate_deferred_predicate(&pred, combo, &run.captured)
            kc._raw_pred = s.where
            kc.needs_zdd = s.where is not None

        chosen: list[int] = []

        def accept_kleene(i: int) -> bool:
            if len(chosen) >= max_take:
                return False
            if not type_at(s, i):
                return False
            if s.deferred:
                return True  # predicate postponed to enumeration
            b_probe = dict(b)
            b_probe[s.alias] = [view(j) for j in chosen]
            return pred_ok(s, i, b_probe)

        def close_and_continue(c_idx: int) -> None:
            """Bind the closure (maximal-so-far) + the next step's event,
            then continue the pattern after them; the run is consumed."""
            b2 = dict(b)
            b2[s.alias] = [view(j) for j in chosen]
            if kc is not None:
                b2["__dc_" + s.alias] = kc
            b2[nxt.alias] = view(c_idx)
            f_ts = first_ts
            f_idx = first_idx
            if f_ts is None:
                anchor = chosen[0] if chosen else c_idx
                f_ts, f_idx = int(ts[anchor]), anchor
            advance(si + 2, c_idx + 1, b2, f_ts, f_idx, int(ts[c_idx]), c_idx)

        def emit_prefix(last_i: int) -> None:
            b2 = dict(b)
            b2[s.alias] = [view(j) for j in chosen]
            f_ts = first_ts
            f_idx = first_idx
            if f_ts is None:
                f_ts, f_idx = int(ts[chosen[0]]), chosen[0]
            finish(b2, f_ts, f_idx, last_i)

        if trailing:
            if s.deferred:
                raise ValueError(
                    "deferred Kleene predicates require a successor step "
                    "(the reference accumulates for deferred emission only "
                    "in SEQ(..., K+, next), sase.rs:3204-3206)"
                )
            if min_needed == 0 and first_ts is not None:
                # A B*: the run may complete with an empty closure
                b2 = dict(b)
                b2[s.alias] = []
                finish(b2, first_ts, first_idx, prev_idx)
            ci, cts = cand(s), cand_ts(s)
            start = int(np.searchsorted(ci, min_i, side="left"))
            for p in range(start, len(ci)):
                i = int(ci[p])
                d = deadline_for(chosen)
                if d is not None and ts[i] > d:
                    break
                if not accept_kleene(i):
                    continue
                chosen.append(i)
                emit_prefix(i)  # CompleteAndContinue per accumulated event
                if len(out) >= max_matches or len(chosen) >= max_take:
                    return
            return

        # mid-pattern: walk the merged candidate order; kleene accumulation
        # is checked BEFORE the closing transition (self-loop priority,
        # sase.rs:3178-3186)
        ci = cand(s)
        ni = cand(nxt)
        a = int(np.searchsorted(ci, min_i, side="left"))
        z = int(np.searchsorted(ni, min_i, side="left"))
        while True:
            i_k = int(ci[a]) if a < len(ci) else None
            i_n = int(ni[z]) if z < len(ni) else None
            if i_k is None and i_n is None:
                return
            take_k = i_n is None or (i_k is not None and i_k <= i_n)
            i = i_k if take_k else i_n
            d = deadline_for(chosen)
            if d is not None and ts[i] > d:
                return
            if take_k:
                a += 1
                if i_n is not None and i_k == i_n:
                    z += 1  # one event, one consumption (self-loop wins,
                    # sase.rs:3178-3186 checks Kleene before transitions)
                if accept_kleene(i):
                    chosen.append(i)
                    if kc is not None:
                        kc.extend(view(i), s.alias)
            else:
                z += 1
                if len(chosen) < min_needed:
                    continue  # closure not yet enterable; event ignored
                if nxt.gap_ns is not None:
                    last_ts = int(ts[chosen[-1]]) if chosen else prev_ts
                    if ts[i] > last_ts + nxt.gap_ns:
                        return  # per-edge within expired; run dead
                b_probe = dict(b)
                b_probe[s.alias] = [view(j) for j in chosen]
                if pred_ok(nxt, i, b_probe):
                    close_and_continue(i)
                    return  # run consumed (Complete)

    advance(0, 0, {}, None, -1, int(ts[0]) - 1 if n else 0, -1)
    return out


def _enumerate_matches(events: list[dict], pattern: Pattern) -> list[dict]:
    """Compat shim over `_run_nfa` for callers holding per-event dicts
    (the streaming state path pickles dict events). `events` sorted by
    (ts, tiebreak); each dict has `__ts` int64 ns.

    AND (any_order) patterns lower HERE to the union of per-permutation
    sequences, so the streaming NFA path gets the same semantics as
    batch (r9 bug: apply_pattern_batch permuted externally, the streaming
    path called this enumerator directly and an AND pattern only matched
    its declared step order — each event set matches under exactly one
    ts-ordering, so the union is duplicate-free)."""
    if not events:
        return []
    if pattern.any_order:
        from dataclasses import replace as _dc_replace
        from itertools import permutations as _perms

        if any(s.negated for s in pattern.steps):
            raise ValueError("any_order with negation is not supported")
        out: list[dict] = []
        for perm in _perms(pattern.steps):
            out.extend(
                _enumerate_matches(
                    events,
                    _dc_replace(pattern, steps=list(perm), any_order=False),
                )
            )
        return out
    pdf = pd.DataFrame(events)
    cols = {c: pdf[c].to_numpy() for c in pdf.columns}
    ts = np.asarray(cols["__ts"], dtype=np.int64)
    return _run_nfa(cols, ts, len(pdf), pattern)


# ---------------------------------------------------------------------------
# Spark driver (batch)
# ---------------------------------------------------------------------------


def _out_schema(pattern: Pattern, input_df: DataFrame) -> str:
    """Derive the output schema from emit projection + input column types."""
    in_types = dict(input_df.dtypes)
    kleene_aliases = {s.alias for s in pattern.steps if s.kleene}
    parts = []
    for out_col, (alias, fld) in pattern.emit.items():
        if fld == "__count":
            parts.append(f"{out_col} long")
        else:
            t = in_types.get(fld, "string")
            if alias in kleene_aliases:
                t = f"array<{t}>"
            parts.append(f"{out_col} {t}")
    return ", ".join(parts)


def compile_pattern_to_joins(stream, pattern: Pattern) -> DataFrame:
    """Lower a Kleene-free skip-till-any pattern to Catalyst equi-joins.

    Sequencing uses the NFA's exact order: strictly increasing (ts,
    order_col) lexicographic position. `within` bounds every step's ts to
    first.ts + within (µs integer arithmetic). Negated steps become
    LEFT ANTI joins guarding the open ts-interval between their neighbors
    (trailing negations guard (last.ts, first.ts + within]) — identical
    semantics to check_negation's strict bounds.

    Everything stays JVM-side: per-step filters push into the scan, the
    per-key equi-joins shuffle once per step on the partition keys, and
    Catalyst/AQE pick broadcast vs shuffle-hash per side. This is the scale
    path for sequence patterns — the Python NFA remains for Kleene closures
    and non-SQL predicates.
    """
    from varpulis_spark.functions import duration_ns

    df = stream.df
    ts_col = stream.ts_col
    order_col = stream.order_col
    keys = pattern.partition_by or stream.keys
    if not keys:
        raise ValueError("join compilation requires partition keys")
    within_us = pattern.within_ns() // 1000 if pattern.within is not None else None

    def aliased(s: Step) -> DataFrame:
        d = df.filter(F.col("event_type") == s.event_type)
        for c in d.columns:
            d = d.withColumnRenamed(c, f"{s.alias}__{c}")
        return d

    def pos(alias: str) -> tuple:
        # lexicographic (ts, order) position for strict sequencing
        t = F.unix_micros(F.col(f"{alias}__{ts_col}"))
        o = F.col(f"{alias}__{order_col}") if order_col else F.lit(0)
        return t, o

    def strictly_after(a: str, b: str):
        ta, oa = pos(a)
        tb, ob = pos(b)
        return (tb > ta) | ((tb == ta) & (ob > oa))

    positives = [s for s in pattern.steps if not s.negated]
    first_alias = positives[0].alias
    joined = aliased(positives[0])
    if positives[0].where_sql:
        joined = joined.filter(_qualify_sql(positives[0].where_sql, [positives[0].alias], df.columns))
    prev_alias = first_alias
    seen = [first_alias]

    # negations: mid-chain guards are GLOBAL (GlobalNegation
    # sase.rs:1842-1849, checked before run advancement, sase.rs:2204) —
    # veto span is (first_event, last_event] in arrival order, INCLUSIVE of
    # the completing event itself. Trailing guards are NegationConstraint
    # confirmation windows (sase.rs:675-716). Dedupe by identity: the
    # pattern compiler interleaves the same guard objects between pairs.
    global_negs: dict[int, Step] = {}
    trailing_negs: list[Step] = []
    steps = pattern.steps
    last_pos = max(i for i, s in enumerate(steps) if not s.negated)
    for i, s in enumerate(steps):
        if s.negated:
            if i == 0:
                raise ValueError("leading negation not join-compilable")
            if i > last_pos:
                trailing_negs.append(s)
            else:
                global_negs.setdefault(id(s), s)
            continue
        if s.alias == first_alias:
            continue
        nxt = aliased(s)
        cond = None
        for k in keys:
            c = F.col(f"{prev_alias}__{k}") == F.col(f"{s.alias}__{k}")
            cond = c if cond is None else cond & c
        cond = cond & strictly_after(prev_alias, s.alias)
        if within_us is not None:
            t1, _ = pos(first_alias)
            ti, _ = pos(s.alias)
            cond = cond & (ti <= t1 + F.lit(within_us))
        if s.gap_ns is not None:
            tp, _ = pos(prev_alias)
            ti, _ = pos(s.alias)
            cond = cond & (ti <= tp + F.lit(s.gap_ns // 1000))
        if s.where_sql:
            cond = cond & _qualify_sql(s.where_sql, seen + [s.alias], df.columns)
        joined = joined.join(nxt, cond, "inner")
        prev_alias = s.alias
        seen.append(s.alias)
    last_alias = prev_alias
    if trailing_negs and within_us is None:
        raise ValueError("trailing negation needs `within` (join path)")

    def lex_after(tn, on, alias):  # (tn, on) > pos(alias)
        ta, oa = pos(alias)
        return (tn > ta) | ((tn == ta) & (on > oa))

    def lex_at_or_before(tn, on, alias):  # (tn, on) <= pos(alias)
        ta, oa = pos(alias)
        return (tn < ta) | ((tn == ta) & (on <= oa))

    # negation guards: LEFT ANTI against the negated type over the span
    for neg, hi_alias in [(g, last_alias) for g in global_negs.values()] + [
        (t, None) for t in trailing_negs
    ]:
        nd = df.filter(F.col("event_type") == neg.event_type)
        for c in nd.columns:
            nd = nd.withColumnRenamed(c, f"{neg.alias}__{c}")
        cond = None
        for k in keys:
            c = F.col(f"{first_alias}__{k}") == F.col(f"{neg.alias}__{k}")
            cond = c if cond is None else cond & c
        tn = F.unix_micros(F.col(f"{neg.alias}__{ts_col}"))
        on = F.col(f"{neg.alias}__{order_col}") if order_col else F.lit(0)
        if hi_alias is not None:
            # global span: strictly after the first event, at or before the
            # completing event (the completing event CAN veto itself)
            c2 = lex_after(tn, on, first_alias) & lex_at_or_before(tn, on, hi_alias)
            cond = c2 if cond is None else cond & c2
        else:
            # trailing: (last_event, first.ts+within) EXCLUSIVE of the
            # deadline itself (trailing_clear breaks at ts >= hi)
            t1, _ = pos(first_alias)
            c2 = lex_after(tn, on, last_alias) & (tn < t1 + F.lit(within_us))
            cond = c2 if cond is None else cond & c2
        if neg.where_sql:
            cond = cond & _qualify_sql(neg.where_sql, seen + [neg.alias], df.columns)
        joined = joined.join(nd, cond, "left_anti")

    proj = []
    for out_col, (alias, fld) in pattern.emit.items():
        proj.append(F.col(f"{alias}__{fld}").alias(out_col))
    return joined.select(*proj)


def _qualify_sql(sql: str, aliases: list[str], cols: list[str]):
    """Rewrite `alias.column` references to the flattened `alias__column`
    names (longest-alias-first to avoid prefix collisions)."""
    import re

    out = sql
    for a in sorted(aliases, key=len, reverse=True):
        out = re.sub(rf"\b{re.escape(a)}\.(\w+)", rf"{a}__\1", out)
    return F.expr(out)


def pattern_prefilter(pattern: Pattern):
    """Catalyst prefilter pushing single-event step predicates below the
    NFA (the reference merges derived-stream filters into pattern-step
    predicates, compiler.rs:146-156,193-211; we go the other way and merge
    step predicates into a JVM-side filter so fewer rows cross the Arrow
    boundary into the Python stateful op).

    An event of type T is droppable when it fails the predicate of EVERY
    step that could consume it. A step's predicate participates only when
    it is a pure function of the CURRENT event: `where_sql` present,
    non-deferred, non-Kleene (a Kleene predicate sees its accumulated
    closure through its own alias, so "own alias" is not "current event"),
    and referencing no OTHER step's alias (cross-event conditions need
    bindings the prefilter doesn't have). A type with any non-conforming
    predicated step — or any predicate-free step — stays unfiltered.

    Returns a Column to AND into the pre-NFA filter, or None when nothing
    is pushable. Callers must keep the STRICT-contiguity guard: under
    strict contiguity, dropping an intervening event would CREATE
    contiguity that the full stream does not have.
    """
    import re
    from functools import reduce

    all_aliases = [s.alias for s in pattern.steps]
    by_type: dict[str, list[Step]] = {}
    for s in pattern.steps:
        if s.event_type is None:
            return None  # wildcard step consumes any type: nothing droppable
        by_type.setdefault(s.event_type, []).append(s)

    conds = []
    for etype, steps_t in by_type.items():
        preds = []
        ok = True
        for s in steps_t:
            if s.where is None and s.where_sql is None:
                ok = False  # unconditional step: every event of T viable
                break
            if s.where is None or s.where_sql is None or s.deferred or s.kleene:
                # where_sql-only steps are join-path artifacts the NFA's
                # pred_ok ignores — pushing them would ADD a predicate the
                # NFA doesn't apply; require both forms (declared identical)
                ok = False
                break
            if "'" in s.where_sql or '"' in s.where_sql:
                # the alias-strip regex below cannot distinguish `a.x` in
                # code from `a.x` inside a string literal; a corrupted
                # prefilter silently drops events the NFA would match —
                # forgo the push-down rather than risk it
                ok = False
                break
            if any(
                re.search(rf"\b{re.escape(a)}\.\w", s.where_sql)
                for a in all_aliases
                if a != s.alias
            ):
                ok = False  # cross-event predicate
                break
            # strip the own-alias qualifier: `a.price > 100` → `price > 100`
            preds.append(
                re.sub(rf"\b{re.escape(s.alias)}\.(\w+)", r"\1", s.where_sql)
            )
        if ok and preds:
            keep = " OR ".join(f"({p})" for p in preds)
            # NULL predicate result drops the row — matching pred_ok's
            # except-→-False on null/missing fields in the NFA
            conds.append(
                F.when(F.col("event_type") == etype, F.expr(keep)).otherwise(
                    F.lit(True)
                )
            )
    if not conds:
        return None
    return reduce(lambda a, b: a & b, conds)


def pattern_or(stream, *patterns: Pattern) -> DataFrame:
    """OR(p1, p2, ...) — disjunction (ast.rs:133-135): union of the branch
    matches. Emit schemas must align by column name."""
    from functools import reduce

    outs = [apply_pattern_batch(stream, p) for p in patterns]
    return reduce(lambda a, b: a.unionByName(b), outs)


def apply_pattern_batch(stream, pattern: Pattern) -> DataFrame:
    """Run `pattern` over a batch Stream; returns the match DataFrame.

    Dispatch: Kleene-free skip-till-any patterns with SQL-expressible
    predicates lower to Catalyst joins (compile_pattern_to_joins); anything
    stateful runs the Python NFA under applyInPandas."""
    if pattern.any_order:
        from dataclasses import replace
        from functools import reduce
        from itertools import permutations

        if any(s.negated for s in pattern.steps):
            raise ValueError("any_order with negation is not supported")
        outs = [
            apply_pattern_batch(stream, replace(pattern, steps=list(perm), any_order=False))
            for perm in permutations(pattern.steps)
        ]
        return reduce(lambda a, b: a.unionByName(b), outs)
    if pattern.join_compilable() and (pattern.partition_by or stream.keys):
        return compile_pattern_to_joins(stream, pattern)
    df = stream.df
    ts_col = stream.ts_col
    order_col = stream.order_col
    keys = pattern.partition_by or stream.keys

    types = pattern.relevant_types()
    if types is not None and pattern.strategy != STRICT:
        # EventTypeIndex analog (sase.rs:917-1005): prefilter pushes to scan.
        df = df.filter(F.col("event_type").isin(types))
        pre = pattern_prefilter(pattern)
        if pre is not None:
            # single-event step predicates run JVM-side before the Arrow
            # transfer into the Python NFA (compiler.rs:146-156 analog)
            df = df.filter(pre)

    if all(s.where is None for s in pattern.steps):
        # no opaque predicates → prune to the columns the NFA touches
        # (pushes column pruning into the scan and shrinks Arrow transfer)
        needed = set(keys or []) | {ts_col, "event_type"}
        if order_col:
            needed.add(order_col)
        for _alias, fld in pattern.emit.values():
            if fld != "__count":
                needed.add(fld)
        df = df.select(*[c for c in df.columns if c in needed])

    schema = _out_schema(pattern, df)
    sort_cols = [ts_col] + ([order_col] if order_col else [])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        ts_ns = pdf[ts_col].astype("int64").to_numpy()
        group_cols = {c: pdf[c].to_numpy() for c in pdf.columns}
        group_cols["__ts"] = ts_ns
        rows = _run_nfa(group_cols, ts_ns, len(pdf), pattern)
        cols = list(pattern.emit.keys())
        return pd.DataFrame(rows, columns=cols)

    if keys:
        from varpulis_spark.engine import spread_keys

        out_cols = list(pattern.emit.keys())

        from varpulis_spark.operators.partition_driver import (
            collect_partition,
            sorted_key_bounds,
        )

        def run_partition(batches):
            """Per-PARTITION NFA driver: `spread_keys` hash-partitions on
            the pattern keys, so every key's events are co-located; one
            global (keys, ts, order) sort + numpy boundary slicing replaces
            Spark's per-group applyInPandas machinery (measured 0.97 s →
            0.57 s on the kleene suite at sf0.1 — per-group Arrow slicing
            dominated, the NFA itself is ~0.26 s across tasks). Memory
            holds one shuffle partition in pandas — on a cluster, size
            spark.sql.shuffle.partitions so partitions fit executors, the
            same contract as every mapInPandas op here.

            Sort/boundary logic is the shared partition_driver primitives
            (one canonical copy of the null-key/ordering subtleties); the
            NFA consumes raw numpy slices, not per-group sub-DataFrames —
            that slicing-cost saving is the whole point of this driver."""
            pdf = collect_partition(batches)
            if pdf is None:
                yield pd.DataFrame(columns=out_cols)
                return
            pdf, bounds = sorted_key_bounds(pdf, keys, sort_cols)
            ts_all = pdf[ts_col].astype("int64").to_numpy()
            cols_all = {c: pdf[c].to_numpy() for c in pdf.columns}
            rows: list[dict] = []
            for s0, s1 in zip(bounds[:-1], bounds[1:]):
                g_cols = {c: v[s0:s1] for c, v in cols_all.items()}
                g_ts = ts_all[s0:s1]
                g_cols["__ts"] = g_ts
                rows.extend(_run_nfa(g_cols, g_ts, int(s1 - s0), pattern))
            yield pd.DataFrame(rows, columns=out_cols)

        return spread_keys(df, keys).mapInPandas(run_partition, schema)
    # single NFA universe — serial, parity with an unpartitioned reference
    # pattern; avoid on large inputs.
    import warnings

    warnings.warn(
        "unpartitioned pattern: all events funnel into ONE task (a single "
        "NFA universe, reference parity). This serializes at scale — add "
        "partition by (e.g. Pattern(..., partition_by=['user_id']) or the "
        "VPL `partition by` clause) to distribute matching.",
        stacklevel=3,
    )
    return (
        df.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(lambda _key, pdf: run(pdf.drop(columns="__g")), schema)
    )
