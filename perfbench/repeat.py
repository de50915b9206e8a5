"""Run each workload k times, each with another seed, and print every
metric's median, quartiles and spread (interquartile range as a share of
the median), plus the failed share of operations.

    python3 perfbench/repeat.py [--workloads clinical,corpus]
        [--runs 10] [--seconds 20] [--first-seed 1]

Runs are untraced: end-to-end figures come from untraced runs, and the
per-layer figures from single ``run.py --trace 1`` runs. The bounds in BENCHMARK.json and the reference figures in the README are
set from this output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t0
    summary = [ln for ln in p.stderr.splitlines() if ln.startswith(f"{workload}:")]
    res["summary"] = summary[-1] if summary else ""
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="clinical,corpus")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = one_run(w, args.first_seed + i, args.seconds)
            runs.append(r)
            print(f"{w} seed={args.first_seed + i} wall={r['wall_s']:.1f}s "
                  f"attempted={r['attempted']} failed={r['failed']} correct={r['correct']} "
                  f"{ {k: round(v['value'], 4) for k, v in r['metrics'].items()} }", flush=True)
            print(f"    {r['summary']}", flush=True)
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"== {w}: failed share {sorted(shares)}; wall median "
              f"{statistics.median(r['wall_s'] for r in runs):.1f}s")
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            if len(vals) > 1:
                q1, _, q3 = statistics.quantiles(vals, n=4)
            else:
                q1 = q3 = med
            spread = (q3 - q1) / med if med else float("nan")
            print(f"   {m:32s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={spread:.3f} {runs[0]['metrics'][m]['unit']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
