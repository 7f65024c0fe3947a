"""Run the benchmark over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of the
runs' values as a share of their median, next to the metric's bound.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workload query_pack --seeds 1-10 --report-dir SET

Runs are sequential. Each run's full report lands in
``SET/<workload>/seed<n>-trace0.json``, so two sets can be compared with
``compare.py``.
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
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--report-dir", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = 0
    for w in args.workload:
        values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
        for s in seeds(args.seeds):
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                "--trace", "0", "--report-dir", args.report_dir,
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(f"{w} seed {s}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                bad += 1
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            bad += not res["correct"]
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            print(
                f"{w} seed {s}: {wall:.1f}s correct={res['correct']} "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True,
            )
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            rel = (q3 - q1) / q2
            print(
                f"{w} {m['name']}: median {q2:.4g} spread {rel:.3f} bound {m['bound']}"
                f" ({rel / m['bound']:.2f} of bound)",
                flush=True,
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
