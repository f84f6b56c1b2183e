"""Run a workload on several seeds and report each end-to-end metric's
median and run-to-run spread (quartile distance as a share of the
median), the figure the metrics' bounds are checked against.

    python3 perfbench/spread.py --workload crawl --seeds 1-10 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(args, seed: int, trace: int) -> tuple[dict, dict] | None:
    """One run's detail line and metrics, or None (with its stderr
    printed) if it failed."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", args.workload, "--seed", str(seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
    if proc.returncode != 0:
        print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        return None
    detail, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(detail), json.loads(result)["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument(
        "--with-trace",
        action="store_true",
        help="also make the traced run on the first seed and report the "
        "tracing overhead (traced minus untraced median op wall on that seed)",
    )
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    walls: list[float] = []  # median op wall per run, reported but not gated
    for seed in args.seeds:
        run = run_once(args, seed, trace=0)
        if run is None:
            return 1
        detail, metrics = run
        walls.append(detail["op_s"]["p50"])
        for name, m in metrics.items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              flush=True)
    for name, vals in values.items():
        spread = iqr_share(vals) if len(vals) > 1 else 0.0
        print(f"{name}: median {statistics.median(vals):.4g} spread {spread:.3f} (n={len(vals)})")
    if len(walls) > 1:
        print(f"op wall (not gated): median {statistics.median(walls):.4g} "
              f"spread {iqr_share(walls):.3f} (n={len(walls)})")
    if args.with_trace:
        run = run_once(args, args.seeds[0], trace=1)
        if run is None:
            return 1
        t, u = run[1]["trace.op_s_p50"]["value"], walls[0]
        print(f"tracing overhead on seed {args.seeds[0]}: {t:.3f} - {u:.3f} = {t - u:.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
