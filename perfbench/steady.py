"""Steadiness self-check: run the benchmark over two sets of seeds and
compare each end-to-end metric against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload replay_small --seeds 1-10

It runs the seeds twice, as two sets. For each set and metric it prints
the median and the spread (distance between the first and third
quartile, as statistics.quantiles(n=4) gives them, over the median), and
for each metric how far the second median is from the first. A spread
above the metric's bound, or two medians further apart than the bound in
either direction, fails the check (exit code 1). Run from the root of a
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise RuntimeError(f"seed {seed}: incorrect result {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}

    sets = []
    for i in range(2):
        runs = []
        for seed in _seeds(args.seeds):
            runs.append(run_once(args.workload, seed, bench["run_seconds"]))
            print(f"set {i + 1} seed {seed}: " + " ".join(
                f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
        sets.append(runs)

    ok = True
    for name, m in spec.items():
        meds = []
        for i, runs in enumerate(sets):
            vals = [r[name] for r in runs]
            meds.append(statistics.median(vals))
            sp = spread(vals)
            bad = sp > m["bound"]
            ok &= not bad
            print(f"{name:16s} set {i + 1}: median {meds[-1]:.4g} {m['unit']}, "
                  f"spread {sp:.3f} (bound {m['bound']}, a third {m['bound'] / 3:.3f})"
                  + ("  FAIL" if bad else ""))
        moved = meds[1] / meds[0] - 1
        bad = abs(moved) > m["bound"]
        ok &= not bad
        print(f"{name:16s} second median moved by {moved:+.3f}" + ("  FAIL" if bad else ""))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
