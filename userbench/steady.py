"""Steadiness check: run the benchmark once per seed and print, for each
metric, its median and inter-quartile spread as a share of the median.

    python3 userbench/steady.py --workload search --seeds 1 2 3 4 5 [--seconds 20] [--trace 0]

Run from the root of the checkout. Each run's last two stdout lines (its
stamp and its result) are kept in ``.userbench/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from userbench.stats import median, spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    out_path = os.path.join(ROOT, ".userbench", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        walls.append(time.perf_counter() - t0)
        lines = res.stdout.strip().splitlines() or ["{}"]
        last = lines[-1]
        with open(out_path, "a") as f:  # the stamp line, then the result line
            f.write("\n".join(lines[-2:]) + "\n")
        result = json.loads(last) if res.returncode == 0 else {}
        print(f"seed {seed}: exit {res.returncode} wall {walls[-1]:.1f} s correct={result.get('correct')} "
              f"attempted={result.get('attempted')} failed={result.get('failed')}", flush=True)
        for name, m in result.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        s = spread(vals) if len(vals) >= 2 and median(vals) else float("nan")
        b = bounds.get(name)
        flag = "" if b is None else (" OK" if s < b / 3 else f" >{b / 3:.3f}")
        print(f"{name:50s} median {median(vals):14.4f} spread {s:7.4f}{flag}  {[round(v, 4) for v in vals]}")
    print(f"run wall: median {median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
