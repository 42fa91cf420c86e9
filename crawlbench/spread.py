"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), the steadiness test a benchmark
bound is checked against.

    python3 crawlbench/spread.py --workload steady_crawl --seeds 1-10
    python3 crawlbench/spread.py --workload steady_crawl --seeds 1-10 --sets 2

With ``--sets 2`` a second set of runs (seeds shifted by the range's
length) alternates with the first, so a drift of the machine's speed falls
on both sets alike; the report then also gives how much worse the second
set's median is than the first's, as a share of the first.

Runs are sequential; each run's last two stdout lines are kept in --log.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _report(values: dict[str, list[float]], bounds: dict) -> None:
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(
            f"{name:24s} median {med:12.4f}  spread {spread:.4f}  "
            f"bound {bounds.get(name)}"
        )


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--seconds", default=None)
    p.add_argument("--log", default=None, help="append result lines here")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or str(bench["run_seconds"])
    seeds = _seeds(args.seeds)
    values = [{} for _ in range(args.sets)]
    for seed in seeds:
        for k in range(args.sets):
            run_seed = seed + k * len(seeds)
            cmd = bench["command"] + [
                "--workload", args.workload, "--seed", str(run_seed),
                "--seconds", seconds, "--trace", "0",
            ]
            out = subprocess.run(
                cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, check=True,
            ).stdout.strip().splitlines()
            result = json.loads(out[-1])
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"seed": run_seed, **result}) + "\n")
                    f.write(out[-2] + "\n")
            for name, m in result["metrics"].items():
                values[k].setdefault(name, []).append(m["value"])
            print(run_seed, out[-1], flush=True)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    bounds = {name: m["bound"] for name, m in metrics.items()}
    for k, vals in enumerate(values):
        print(f"set {k + 1}")
        _report(vals, bounds)
    for k in range(1, args.sets):
        print(f"set {k + 1} worse than set 1 by (share of set 1's median):")
        for name, m in metrics.items():
            first = statistics.median(values[0][name])
            other = statistics.median(values[k][name])
            worse = (other - first) / first
            if m["better"] == "higher":
                worse = -worse
            print(f"  {name:24s} {worse:+.4f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
