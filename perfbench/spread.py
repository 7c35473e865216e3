"""Run one workload over several seeds and report, per end-to-end
metric, the median and the interquartile spread as a share of the
median (the benchmark's steadiness figure). With ``--traced`` each
seed also runs traced, and the tracing overhead is reported as the
traced minus the untraced median.

    python3 perfbench/spread.py --workload snapshot_multi_table --seeds 1-10 --seconds 8
    python3 perfbench/spread.py --workload cdc_hotkey_delta_read --seeds 1-5 --seconds 8 --traced
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    meta = next(json.loads(x[6:]) for x in lines if x.startswith("meta: "))
    return {"result": result, "meta": meta}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    runs = []
    for seed in _seeds(args.seeds):
        plain = run_once(args.workload, seed, args.seconds, 0)
        traced = run_once(args.workload, seed, args.seconds, 1) if args.traced else None
        runs.append((plain, traced))
        r = plain["result"]
        print(json.dumps({"seed": seed, "correct": r["correct"], "failed": r["failed"],
                          "valid": plain["meta"]["info"].get("valid", True),
                          **{k: round(v["value"], 4) for k, v in r["metrics"].items()}}),
              flush=True)
    if len(runs) < 2:
        return 0
    metrics = runs[0][0]["result"]["metrics"]
    print(f"{'metric':>14} {'median':>12} {'iqr/median':>11}" + (
        f" {'traced':>12} {'overhead':>9}" if args.traced else ""))
    for k in metrics:
        vals = [p["result"]["metrics"][k]["value"] for p, _ in runs]
        line = f"{k:>14} {statistics.median(vals):12.4f} {spread(vals):11.4f}"
        if args.traced:
            tvals = [t["meta"]["e2e"][k] for _, t in runs]
            med, tmed = statistics.median(vals), statistics.median(tvals)
            line += f" {tmed:12.4f} {(tmed - med) / med:+9.3f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
