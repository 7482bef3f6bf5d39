"""Run one workload over several seeds and summarise each metric.

    python3 perfbench/repeat.py --workload analyst_corpus --seeds 1-10 --seconds 5
    python3 perfbench/repeat.py --workload daily_etl --seeds 1-3 --seconds 5 --overhead

For every end-to-end metric it prints the median over the seeds and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. With
``--overhead`` each seed also gets a traced run, and the tracing
overhead (traced minus untraced, median over seeds) is printed per
metric. Runs go one at a time; each finishes before the next starts.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACED_PREFIX = "perfbench: traced end-to-end "


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args()

    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        res, _ = run_once(args.workload, seed, args.seconds, 0)
        print(json.dumps({"seed": seed, **res}), flush=True)
        for k, v in res["metrics"].items():
            plain.setdefault(k, []).append(v["value"])
        if args.overhead:
            res, err = run_once(args.workload, seed, args.seconds, 1)
            line = next(ln for ln in err.splitlines() if ln.startswith(TRACED_PREFIX))
            for k, v in json.loads(line[len(TRACED_PREFIX):]).items():
                traced.setdefault(k, []).append(v)
    summary = {}
    for k, vals in plain.items():
        row = {"median": statistics.median(vals), "n": len(vals)}
        if len(vals) >= 2:
            row["spread"] = spread(vals)
        if k in traced:
            row["trace_overhead"] = statistics.median(t - u for t, u in zip(traced[k], vals))
        summary[k] = row
    print(json.dumps({"workload": args.workload, "summary": summary}, indent=1))


if __name__ == "__main__":
    main()
