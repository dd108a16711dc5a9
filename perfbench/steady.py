"""Steadiness self-check: run one workload on seeds 1..10, twice over,
and print each end-to-end metric's spread next to its bound from
BENCHMARK.json, so a metric that cannot be made steady shows up.

    python3 perfbench/steady.py --workload lookup

Spread is the distance between the first and third quartile of a set's
values (``statistics.quantiles(values, n=4)``) as a share of their median;
a spread over the bound is flagged. The second set's median is compared
with the first's: worse by more than the bound is flagged too. Exits 1
when anything is flagged. Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

SEEDS = range(1, 11)
SETS = 2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share."""
    if first == 0:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets = []
    for s in range(SETS):
        values: dict[str, list[float]] = {k: [] for k in metrics}
        for seed in SEEDS:
            res = run_once(args.workload, seed, bench["run_seconds"])
            for k in metrics:
                values[k].append(res["metrics"][k]["value"])
            print(f"set {s + 1} seed {seed}: correct={res['correct']} failed={res['failed']}"
                  f"/{res['attempted']} " + " ".join(
                      f"{k}={res['metrics'][k]['value']:.4g}" for k in metrics),
                  flush=True)
        sets.append(values)
    ok = True
    print(f"\n{args.workload}: {len(SEEDS)} runs per set")
    for k, m in metrics.items():
        line = f"  {k:28s} bound {m['bound']:.3f}"
        for i, values in enumerate(sets):
            sp = spread(values[k])
            flag = "" if sp <= m["bound"] else "  OVER BOUND"
            ok &= not flag
            line += f" | set{i + 1} median {statistics.median(values[k]):.4g} spread {sp:.3f}{flag}"
        w = worse_by(statistics.median(sets[0][k]), statistics.median(sets[1][k]), m["better"])
        flag = "  WORSE THAN BOUND" if w > m["bound"] else ""
        ok &= not flag
        line += f" | second worse by {w:+.3f}{flag}"
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
