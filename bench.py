"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints JSON
lines {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — the LAST line is a COMPACT summary
(suite totals, per-query seconds, sf1 ratio min/median) sized to survive
the round driver's bounded tail capture; the full per-query detail
(spread, events/s, rows, full ratio map) is written to
BENCH_LOCAL_r$SPARK_GRAFT_ROUND.json.

Each query is forced with a count() action (full pipeline execution, no
driver-side collect of payloads). BASELINE.md's reference numbers are
single-node event-throughput; our comparable figure is wall-clock per query
over the same table at the bench scale factor.

Timeout-proofing (VERDICT r4 task 2 — r4 lost its entire perf record to
one hanging query because the only print happened after everything):
- every query runs under a wall-clock cap (SPARK_GRAFT_BENCH_QUERY_TIMEOUT,
  default 120 s): the count() runs in a worker thread with its own Spark
  job group; on timeout the group is cancelled, the query records -1, and
  the suite moves on;
- each completed block prints its OWN flushed JSON line immediately
  (sf0.1 first), so a later hang or an external kill can no longer destroy
  already-measured numbers;
- the whole suite has a soft budget (SPARK_GRAFT_BENCH_SUITE_BUDGET,
  default 900 s per block): once exceeded, remaining queries record -1
  ("skipped": [...] names them — no silent truncation);
- the idle-wait is bounded at SPARK_GRAFT_BENCH_IDLE_WAIT (default 120 s,
  was 600 — it could eat the round's whole bench budget before one query
  ran).

Protocol additions (VERDICT r3 tasks 1-2):
- waits for loadavg < 1 before timing (bounded, see above) — numbers taken
  on a loaded host have 2x spreads and are not comparable round-over-round;
- a second `sf1` block: the suite re-runs at the locally derived 10x
  scale factor (scripts/make_sf.py; users scale, per-key density fixed)
  and reports per-query events/s plus the sf1/sf0.1 events-per-sec ratio
  — the scale story measured, not asserted. `embedding_near_dup` is
  excluded there (exact all-pairs is O(n^2) BY SPEC; the 100 TB path is
  the LSH variant, which IS measured via minhash/simhash/ann).
  Disable with SPARK_GRAFT_BENCH_SF1=0.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from varpulis_spark.engine import get_spark  # noqa: E402

SF1_EXCLUDE = {"embedding_near_dup"}
QUERY_TIMEOUT = float(os.environ.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT", "120"))
SUITE_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_SUITE_BUDGET", "900"))

# Measurement-bug fix (r13, guide §1.4): `count()` lets Catalyst prune
# deterministic projections, and a plan probe over all 48 declared queries
# (OPTIMIZATION_r13.md) found exactly two whose ENTIRE work is such a
# projection — `text_stats` (pure-Catalyst regex/tokenize columns) and
# `collatz_steps` (pandas-UDF column): their count-timed numbers measured a
# bare column-less parquet scan. These two are now timed through the noop
# sink (computes every output column, discards rows); the old-methodology
# numbers stay alongside as `<name>__count` entries so the r1-r12 trend
# tables remain readable. Every other query keeps its work nodes under
# count() (same probe), so its numbers stay methodology-identical.
NOOP_TIMED = {"text_stats", "collatz_steps"}


def bench_items() -> list[tuple[str, object, str]]:
    """(bench_name, query_fn, action) list the suite runs: NOOP_TIMED
    queries get a noop-sink timing under their contract name plus a
    `<name>__count` legacy twin; everything else is count-timed."""
    items: list[tuple[str, object, str]] = []
    for name, fn in entrymod.queries().items():
        if name in NOOP_TIMED:
            items.append((name, fn, "noop"))
            items.append((name + "__count", fn, "count"))
        else:
            items.append((name, fn, "count"))
    return items


def wait_for_idle(threshold: float = 1.0) -> tuple[float, bool]:
    """Block until BOTH the 1-min and 5-min loadavg are < threshold
    (bounded); returns (secs waited, contended). The 5-min average matters:
    the r7 driver run started at 1-min 1.68 but 5-min 4.34 and produced a
    phantom sf1 eps floor of 0.65 (VERDICT r7 'what's wrong' #2). When the
    budget runs out still-loaded, `contended` is True and the compact line
    carries the flag so the eps floor is either trustworthy or visibly
    suspect."""
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "120"))
    # the 5-min average decays slowly — give it a proportionally longer
    # (still bounded) budget before declaring the run contended
    budget5 = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_5MIN", "420"))
    t0 = time.time()
    while os.getloadavg()[0] >= threshold and time.time() - t0 < budget:
        time.sleep(5)
    while os.getloadavg()[1] >= max(threshold, 2.0) and time.time() - t0 < budget5:
        time.sleep(10)
    la = os.getloadavg()
    contended = la[0] >= threshold or la[1] >= max(threshold, 2.0)
    return round(time.time() - t0, 1), contended


def cpu_ref() -> dict:
    """Fixed CPU calibration stamp: a numpy GEMM (BLAS/SIMD path) and a
    pure-Python loop (interpreter path), single-threaded. Rounds-apart
    artifacts on this shared box differ up to ~2x from HOST state alone
    (PERF_NOTES r7 control experiment: the r6 commit reproduces r7's slow
    tail bit-for-bit) — this stamp lets readers normalize absolute seconds
    before calling something a regression."""
    import numpy as np

    a = np.full((1500, 1500), 1.0 / 3)
    t0 = time.time()
    for _ in range(3):
        a @ a
    gemm = time.time() - t0
    t0 = time.time()
    x = 0
    for i in range(5_000_000):
        x += i
    return {"gemm_sec": round(gemm, 3), "pyloop_sec": round(time.time() - t0, 3)}


def trailing_gemm_median(here: str | None = None) -> float | None:
    """Median cpu_ref.gemm_sec across the COMMITTED idle bench artifacts
    (BENCH_LOCAL_r*.json, skipping `_contended` files and artifacts already
    stamped host_degraded). This is the calibration reference a fresh run
    is judged against: the r11 idle artifact ran on a host day whose gemm
    read 1.544 s vs 0.2-0.4 s in every neighboring run (~4x degraded), and
    without a gate every cross-round wall comparison was unfalsifiable
    (VERDICT r11 task 1)."""
    import glob
    import statistics

    here = here or os.path.dirname(os.path.abspath(__file__))
    vals = []
    for p in sorted(glob.glob(os.path.join(here, "BENCH_LOCAL_r*.json"))):
        if "_contended" in os.path.basename(p):
            continue
        try:
            with open(p) as f:
                d = json.loads(f.readline())
        except Exception:  # noqa: BLE001 - unreadable artifact, skip
            continue
        if d.get("host_degraded"):
            continue
        g = (d.get("cpu_ref") or {}).get("gemm_sec")
        if isinstance(g, (int, float)) and g > 0:
            vals.append(float(g))
    return round(statistics.median(vals), 3) if vals else None


def host_calibration(cpu: dict, here: str | None = None) -> dict:
    """Judge this run's CPU stamp against the trailing committed median.

    Returns {gemm_trailing_median, gemm_factor, host_degraded}: factor is
    this run's gemm_sec over the median (1.0 = typical host day), and
    host_degraded is True past 1.5x — the artifact is still written (a
    degraded-host record beats no record) but every absolute wall in it is
    stamped suspect, and the compact line carries the flag."""
    ref = trailing_gemm_median(here)
    cal: dict = {"gemm_trailing_median": ref}
    g = cpu.get("gemm_sec")
    if ref and isinstance(g, (int, float)) and g > 0:
        factor = g / ref
        cal["gemm_factor"] = round(factor, 3)
        cal["host_degraded"] = factor > 1.5
    return cal


def gemm_normalized_eps(eps: dict, cal: dict) -> dict:
    """Host-drift-normalized events/s: measured eps scaled by gemm_factor
    (a 2x-slower host halves measured eps; multiplying by the factor
    estimates eps on a median host day). CPU-bound queries normalize well;
    I/O-bound tails less so — the factor is stamped next to the map so
    readers can weigh it."""
    factor = cal.get("gemm_factor")
    if not factor:
        return {}
    return {k: round(v * factor) for k, v in eps.items()}


def _committed_idle_streaming(here: str | None = None) -> dict | None:
    """Streaming section of the NEWEST committed idle artifact (by round
    number) that carries one — the 'idle twin' a fresh run's scenario p50s
    are sanity-checked against."""
    import glob

    here = here or os.path.dirname(os.path.abspath(__file__))
    best_rnd, best = -1, None
    for p in glob.glob(os.path.join(here, "BENCH_LOCAL_r*.json")):
        name = os.path.basename(p)
        if "_contended" in name:
            continue
        m = re.search(r"BENCH_LOCAL_r(\d+)", name)
        if not m:
            continue
        try:
            with open(p) as f:
                d = json.loads(f.readline())
        except Exception:  # noqa: BLE001
            continue
        s = d.get("streaming")
        if (
            isinstance(s, dict)
            and "error" not in s
            and not d.get("host_degraded")
            and int(m.group(1)) > best_rnd
        ):
            best_rnd, best = int(m.group(1)), s
    return best


def annotate_streaming_anomalies(
    streaming: dict, here: str | None = None
) -> None:
    """Stamp a `note` on any scenario whose p50 deviates >3x from the
    committed idle twin (VERDICT r11 task 6: a contended r11 scenario p50
    read 12.9 s vs 1.1 s idle with no in-artifact provenance). Mutates the
    scenario dicts in place; the compact line carries the note."""
    ref = _committed_idle_streaming(here)
    if not isinstance(ref, dict):
        return

    def _p50(s):
        return ((s or {}).get("latency_ms") or {}).get("p50")

    pairs = [
        (streaming.get(n), _p50(ref.get(n)))
        for n in ("pattern_runcap", "trend_windowed", "dedup_history")
    ]
    for s, ref_p50 in pairs:
        if not isinstance(s, dict) or not ref_p50:
            continue
        p = _p50(s)
        if p and (p > 3 * ref_p50 or p < ref_p50 / 3):
            s["note"] = (
                f"p50 {p} ms deviates >3x from the committed idle twin "
                f"({ref_p50} ms) — read as a host-state artifact, not an "
                "engine change"
            )


def warmup(spark, sf_dir: str) -> int:
    """Absorb one-time costs the baseline also excludes ('preloaded events,
    median of 3 runs', README.md:100): JVM codegen, parquet footer reads,
    and the Arrow python worker pool (one spinup per core, reused after)."""
    from varpulis_spark.engine import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    load_table(spark, sf_dir, "lineitem").count()
    load_table(spark, sf_dir, "documents").count()
    load_table(spark, sf_dir, "embeddings").count()
    # spin up the Arrow worker pool across all partitions
    spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()
    return n_events


def timed_count(
    spark, fn, sf_dir: str, name: str, action: str = "count"
) -> tuple[int | None, float]:
    """fn(spark, sf_dir) forced with `action` ("count", or "noop" — the
    noop sink computes every column, guide §1.4) under a wall-clock cap.
    Returns (rows, seconds) or (None, -1.0) on timeout; noop runs return
    rows=None (the caller backfills from the count twin). The action runs
    in a worker thread holding its own Spark job group (pinned-thread
    mode: the group must be set INSIDE the thread); on timeout the group
    is cancelled so the executors stop burning cores on the abandoned
    query."""
    result: dict = {}
    group = f"bench-{name}-{time.monotonic_ns()}"

    def work() -> None:
        try:
            spark.sparkContext.setJobGroup(group, name, True)
            df = fn(spark, sf_dir)
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
                result["rows"] = None
            else:
                result["rows"] = df.count()
        except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
            result["err"] = e

    t = threading.Thread(target=work, daemon=True)
    t0 = time.time()
    t.start()
    t.join(QUERY_TIMEOUT)
    if t.is_alive():
        try:
            spark.sparkContext.cancelJobGroup(group)
        except Exception:  # noqa: BLE001
            pass
        t.join(15)
        return None, -1.0
    if "err" in result:
        raise result["err"]
    return result["rows"], time.time() - t0


def run_suite(
    spark, sf_dir: str, runs_per_query: int, skip: set[str] = frozenset()
) -> tuple[dict, dict, dict, list[str]]:
    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    skipped: list[str] = []
    suite_t0 = time.time()
    for name, fn, action in bench_items():
        if name in skip or name.split("__")[0] in skip:
            continue
        if time.time() - suite_t0 > SUITE_BUDGET:
            skipped.append(name)
            times[name] = -1.0
            continue
        try:
            samples = []
            for _ in range(max(1, runs_per_query)):
                n, sec = timed_count(spark, fn, sf_dir, name, action)
                spark.catalog.clearCache()
                from varpulis_spark.operators.dedup import release_caches

                release_caches()  # drop registry refs alongside the cache
                if sec < 0:
                    print(f"bench timeout in {name} (> {QUERY_TIMEOUT}s)", file=sys.stderr)
                    samples = []
                    break
                if n is not None:
                    rows[name] = n
                samples.append(sec)
            if not samples:
                times[name] = -1.0
                continue
            # adaptive de-noising: a >3x min/max spread means a host-load
            # spike hit some sample (the recurring cross-round artifact);
            # two extra samples tighten the median instead of shipping a
            # contaminated number
            if (
                len(samples) > 1
                and min(samples) > 0
                and max(samples) / min(samples) > 3.0
            ):
                for _ in range(2):
                    n, sec = timed_count(spark, fn, sf_dir, name, action)
                    spark.catalog.clearCache()
                    from varpulis_spark.operators.dedup import release_caches

                    release_caches()
                    if sec >= 0:
                        samples.append(sec)
            samples.sort()
            times[name] = round(samples[len(samples) // 2], 3)
            spread[name] = [round(samples[0], 3), round(samples[-1], 3)]
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            times[name] = -1.0
    for q in NOOP_TIMED:  # noop runs report no row count; the twin does
        if q in times and q not in rows and q + "__count" in rows:
            rows[q] = rows[q + "__count"]
    return times, spread, rows, skipped


def _running_round() -> str:
    """The RUNNING round number for artifact filenames.

    $SPARK_GRAFT_ROUND wins when set. Otherwise derive it from the newest
    committed CORRECTNESS_r{N}.json: the round driver writes
    CORRECTNESS_r{N} BEFORE it runs this bench (r13's close produced a
    detail artifact stamped r14 — VERDICT r13 'what's wrong' #3), so
    newest-CORRECTNESS = r{N} means round N is still CLOSING unless its
    BENCH_r{N}.json has also landed; only then is round N+1 underway."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return env
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for fn in os.listdir(here):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fn)
        if m:
            rounds.append(int(m.group(1)))
    if not rounds:
        return "0"
    n = max(rounds)
    if os.path.exists(os.path.join(here, f"BENCH_r{n:02d}.json")) or os.path.exists(
        os.path.join(here, f"BENCH_r{n}.json")
    ):
        return str(n + 1)  # round n fully closed: this run belongs to n+1
    return str(n)  # round n's driver close is in flight: stamp n


def _detail_path(contended: bool = False) -> str:
    """Full per-query detail lands here; the stdout line stays compact.

    Contended runs (idle-wait budget exhausted with load still high) write
    to a `_contended`-suffixed file so they can NEVER overwrite the
    committed idle artifact the compact line's `detail` field points at
    (VERDICT r8 finding #3, repeated r9 finding #1). Contended re-runs
    APPEND — first free `_contended[.k].json` slot — instead of silently
    replacing an earlier (possibly committed) contended record
    (VERDICT r10 finding #2)."""
    rnd = _running_round()
    here = os.path.dirname(os.path.abspath(__file__))
    if not contended:
        return os.path.join(here, f"BENCH_LOCAL_r{rnd}.json")
    path = os.path.join(here, f"BENCH_LOCAL_r{rnd}_contended.json")
    k = 2
    while os.path.exists(path):
        path = os.path.join(here, f"BENCH_LOCAL_r{rnd}_contended.{k}.json")
        k += 1
    return path


def compact_line(out: dict, detail_path: str) -> str:
    """ONE small JSON line (VERDICT r5 task 1): the driver's tail capture
    truncated the full line two rounds running, leaving `parsed: null`
    despite rc=0. Keep the required contract fields (metric/value/unit/
    queries/sf) plus summary stats only — per-query eps/spread/rows maps
    live in the detail file. Target: well under 2 KB for 41 queries."""
    c = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "queries": {k: round(v, 2) for k, v in out["queries"].items()},
        "filter_events_per_sec": out.get("filter_events_per_sec"),
        "queries_run": sum(1 for v in out["queries"].values() if v >= 0),
        "skipped": out.get("skipped", []),
        "detail": os.path.basename(detail_path),
        "cpu_ref": out.get("cpu_ref"),
    }
    cal = out.get("calibration") or {}
    if cal.get("gemm_factor") is not None:
        c["gemm_factor"] = cal["gemm_factor"]
    if out.get("host_degraded"):
        # this run's gemm stamp exceeds 1.5x the trailing committed idle
        # median: absolute walls are a degraded-host reading — normalize by
        # gemm_factor (detail file carries the normalized eps map) before
        # comparing across rounds
        c["host_degraded"] = True
    if out.get("contended"):
        # idle-wait budget exhausted with load still high: absolute times
        # and eps ratios in this artifact are suspect (see wait_for_idle)
        c["contended"] = True
    sf1 = out.get("sf1")
    if isinstance(sf1, dict) and "queries" in sf1:
        ratios = sorted(sf1.get("eps_ratio_vs_sf0.1", {}).values())
        c["sf1"] = {
            "value": sf1["value"],
            "queries_run": sum(1 for v in sf1["queries"].values() if v >= 0),
            "eps_ratio_min": ratios[0] if ratios else None,
            "eps_ratio_median": ratios[len(ratios) // 2] if ratios else None,
            "skipped": sf1.get("skipped", []),
            "excluded": sf1.get("excluded", []),
        }
    elif isinstance(sf1, dict):
        c["sf1"] = sf1  # best-effort error record
    if out.get("streaming_compact"):
        c["streaming"] = out["streaming_compact"]
    return json.dumps(c)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    idle_waited, contended = wait_for_idle()
    load_start = os.getloadavg()  # before session startup self-load
    cpu = cpu_ref()
    cal = host_calibration(cpu)
    spark = get_spark("varpulis-bench")
    spark.sparkContext.setLogLevel("ERROR")
    n_events = warmup(spark, sf_dir)

    # median-of-N with a warm session (matches the baseline's 'preloaded
    # events, median of 3 runs' protocol, README.md:100); the spread field
    # exposes host-contention noise so round-over-round deltas can be read
    # against variance.
    times, spread, rows, skipped = run_suite(spark, sf_dir, runs_per_query)
    # suite total counts each declared query ONCE (the `__count` legacy
    # twins are extra telemetry, not extra suite members; match the twin
    # SUFFIX explicitly — ADVICE r13: a future query whose own name happens
    # to contain "__" must not silently fall out of the total)
    total = round(
        sum(t for n, t in times.items() if t >= 0 and not n.endswith("__count")), 3
    )
    # comparable to BASELINE.md CPU-bound event throughput (filter row)
    filter_tput = (
        round(n_events / times["high_value_filter"])
        if times.get("high_value_filter", 0) > 0
        else None
    )
    events_per_sec = {
        name: round(n_events / t) for name, t in times.items() if t > 0
    }
    out = {
        "metric": "headline_query_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": times,
        "spread_min_max": spread,
        "events_per_sec": events_per_sec,
        "rows": rows,
        "sf": sf,
        "events_rows": n_events,
        "filter_events_per_sec": filter_tput,
        "runs_per_query": runs_per_query,
        "idle_wait_sec": idle_waited,
        "contended": contended,
        "loadavg_start": [round(x, 2) for x in load_start],
        "cpu_ref": cpu,
        "calibration": cal,
        "host_degraded": bool(cal.get("host_degraded")),
        "events_per_sec_gemm_normalized": gemm_normalized_eps(
            events_per_sec, cal
        ),
        "skipped": skipped,
        "query_timeout_sec": QUERY_TIMEOUT,
    }
    # flush the sf0.1 numbers NOW — a hang in the sf1 block (or an external
    # kill) must never again destroy the already-measured suite. The stdout
    # line is COMPACT (the driver parses the last line from a bounded tail
    # capture); the full record goes to the detail file.
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    detail = _detail_path(contended)
    with open(detail, "w") as f:
        f.write(json.dumps(out) + "\n")
    print(compact_line(out, detail), flush=True)

    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "0":
        try:
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
            import make_sf

            sf1_dir = make_sf.ensure()
            n1 = warmup(spark, sf1_dir)
            runs1 = int(os.environ.get("SPARK_GRAFT_BENCH_SF1_RUNS", "2"))
            t1, s1, r1, sk1 = run_suite(spark, sf1_dir, runs1, skip=SF1_EXCLUDE)
            eps1 = {k: round(n1 / v) for k, v in t1.items() if v > 0}
            # per-query scaling: events/s at sf1 relative to sf0.1 — 1.0 is
            # perfectly linear; > means fixed overhead amortizing away
            ratio = {
                k: round(eps1[k] / events_per_sec[k], 2)
                for k in eps1
                if events_per_sec.get(k)
            }
            out["sf1"] = {
                "sf": 1.0,
                "events_rows": n1,
                "queries": t1,
                "spread_min_max": s1,
                "rows": r1,
                "events_per_sec": eps1,
                "events_per_sec_gemm_normalized": gemm_normalized_eps(
                    eps1, cal
                ),
                "eps_ratio_vs_sf0.1": ratio,
                "runs_per_query": runs1,
                "value": round(
                    sum(
                        v
                        for n, v in t1.items()
                        if v >= 0 and not n.endswith("__count")
                    ),
                    3,
                ),
                "excluded": sorted(SF1_EXCLUDE),
                "skipped": sk1,
            }
        except Exception as e:  # noqa: BLE001 - sf1 block is best-effort
            out["sf1"] = {"error": repr(e)}

        out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        # the complete record (sf0.1 + sf1) goes to the detail file; the
        # LAST stdout line is the compact summary the driver can always parse
        with open(detail, "w") as f:
            f.write(json.dumps(out) + "\n")
        print(compact_line(out, detail), flush=True)

    if os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        # streaming section (VERDICT r7 task 1): live sustained evt/s +
        # event-to-alert latency through three streaming twins, against
        # the reference's Flink-comparison 554 ms average alert latency
        try:
            import bench_streaming

            out["streaming"] = bench_streaming.run_streaming_bench(spark)
            annotate_streaming_anomalies(out["streaming"])
            out["streaming_compact"] = bench_streaming.compact_streaming(
                out["streaming"]
            )
        except Exception as e:  # noqa: BLE001 - streaming block is best-effort
            out["streaming"] = {"error": repr(e)}
            out["streaming_compact"] = {"error": repr(e)[:200]}
        out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        with open(detail, "w") as f:
            f.write(json.dumps(out) + "\n")
        print(compact_line(out, detail), flush=True)

    # the ABSOLUTE last stdout action re-prints the final compact line
    # after Spark shutdown: the r12 driver capture lost its one-line JSON
    # to post-JSON shutdown noise in the bounded tail (VERDICT r13 #3) —
    # with stop() already done, nothing can print after this line.
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - shutdown is best-effort
        pass
    print(compact_line(out, detail), flush=True)


if __name__ == "__main__":
    main()
