"""varpulis_spark benchmark.

    python3 perfbench/run.py --workload replay_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. A run generates its inputs from the seed,
sets up Spark sessions on local[nproc] through the engine's own
`get_spark`, measures the workload, checks every result, and prints one
`workload name value unit` line per metric followed, as the last line, by
a JSON object with the keys `correct`, `attempted`, `failed` and `metrics`.
`--workload all` runs every workload in turn, each in its own process.

Workloads (why each was chosen is in BENCHMARK.json):
- replay_small (replay.py): 28 of the 48 driver queries plus a VPL leg
  over a seeded 10k-event table set, one closed-loop client. Each result
  is compared with its DuckDB oracle outside the timed region.
- stream_alerts (alerts.py): a live SEQ(signup -> purchase) within 1s per
  user with a run cap, fed by a separate open-loop generator process at a
  fixed ladder of offered rates. The alert multiset is compared with the
  same Pattern run in batch over the generated events.

End-to-end metrics (`--trace 0`):
- setup_s: session start plus warm-up (every input table resolved, the
  Python worker pool booted), the median of three set-ups on one JVM.
  Input generation, the oracles and the JVM launch (in the first set-up
  only, printed as setup_first_s) are not in it.
- wall_s: replay_small, one pass over every query, forced by collecting
  each result (about 30 s on 4 cores: the pass is longer than --seconds,
  which only sizes stream_alerts). stream_alerts, from the first event of
  the base-rate stage to the end of the micro-batch that processed the
  last event of the ladder: the schedule's fixed length plus how far the
  engine fell behind it (the engine's own busy time is printed as
  engine_busy_s, not gated; see alerts.py).
- cpu_s: CPU-seconds of the whole process tree (driver, JVM, Python
  workers, generator) over that same pass or span.
- peak_rss_mb: peak resident memory of the process tree that held for at
  least two samples 0.25 s apart, from the start of set-up to the end of
  the run (stream_alerts: to the end of the micro-batch that processed the
  last event of the base-rate stage; the ladder's top rate makes the peak
  swing by a quarter between runs).
- latency_p50_ms / latency_p99_ms: replay_small, each query's latency
  (build + plan + result). stream_alerts, the alert latency at the base
  rate: from the completing event's scheduled creation to the alert
  reaching the sink (also printed as alert_p50_ms / alert_p99_ms).
Printed with them: failed_frac (the share of checked results that errored,
timed out or differed from the oracle, also carried by `attempted` and
`failed`), the alert count, and sustained_eps (the highest ladder rate
whose backlog did not grow and whose p99 met alerts.LATENCY_LIMIT_MS).

`--trace 1` runs the traced variant and reports the per-layer metrics
(spans.PER_LAYER) instead, from the benchmark's spans, Spark's event log
and the streaming query's progress reports, plus the tracing overhead.
Every run writes a record with a host stamp (nproc, loadavg at start and
end, a fixed CPU calibration) under perfbench/.work/records/; a traced
run also leaves its spans, per-query layer totals and event logs under
perfbench/.work/runs/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import WORK, Session, isolate, shutdown  # noqa: E402

WORKLOADS = ("replay_small", "stream_alerts")


def run_all(args) -> int:
    code = 0
    for w in WORKLOADS:
        code |= subprocess.run([
            sys.executable, os.path.abspath(__file__), "--workload", w,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]).returncode
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    isolate(run_dir)
    import host

    record = {"run": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host.stamp()}
    if args.workload == "replay_small":
        import replay as workload
    else:
        import alerts as workload
    try:
        out = workload.run(args, run_dir, Session)
    finally:
        shutdown()
        # keep only the run's artifacts (oracles, generator stats, spans,
        # event logs), not its scratch space
        for sub in ("tmp", "spark-local", "warehouse", "spool", "ckpt"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    record["host"]["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    record.update(out)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    metrics = out["metrics"]
    for name, m in {**out["extra"], **metrics}.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    for name, why in out["failures"].items():
        print(f"FAILED {name}: {why}")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
