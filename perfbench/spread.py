"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload read_mix --seeds 1-10

Runs ``perfbench/run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), one run at a time, then prints for each end-to-end metric
the median and the quartile spread (Q3 - Q1 over the median, quartiles from
``statistics.quantiles(values, n=4)``) next to the metric's bound and a
third of it. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="a range like 1-10 or a list like 3,7,9")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, *spec["command"][1:], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        tags = next(json.loads(ln[len("host: "):ln.rindex(" seed:")]) for ln in lines if ln.startswith("host: "))
        print(f"seed {seed}: {walls[-1]:.1f}s steal={tags['steal_frac']:.3f} correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.5g}" for k, v in result["metrics"].items()),
              flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])

    print(f"\n{args.workload}: {len(walls)} runs, wall median {median(walls):.1f}s max {max(walls):.1f}s")
    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        print(f"{m['name']:>24}: median {median(vals):.6g} {m['unit']:<6} spread {spread:.4f} "
              f"bound {m['bound']} (third {m['bound'] / 3:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
