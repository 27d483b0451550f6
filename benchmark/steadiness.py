"""Run a workload over several seeds and report each end-to-end
metric's spread: the inter-quartile range of its values as a share of
their median, beside the bound BENCHMARK.json gives it.

    python3 benchmark/steadiness.py --workload curation --seeds 1 2 3 4 5

Runs are sequential; each is `run.py` with `--trace 0` and the
benchmark's own `run_seconds`.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from benchmark.metrics import median, spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in args.seeds:
        out = subprocess.run(
            [
                *spec["command"],
                "--workload", args.workload,
                "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]),
                "--trace", "0",
            ],
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.splitlines()[-1]
        result = json.loads(out)
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}", flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        s = spread(xs) if len(xs) >= 2 else 0.0
        print(f"{m['name']:>16}: median {median(xs):.4g} {m['unit']}  spread {s:.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
