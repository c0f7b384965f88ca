#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median and
quartile spread (IQR / median), the steadiness measure the bounds in
BENCHMARK.json are checked against.

    python3 perfbench/spread.py --workload serve_sorted --seeds 1-10 [--trace 0]

Each run's JSON line is appended to perfbench/.work/spread/<workload>.jsonl,
so an interrupted series can be summarized with --summarize-only.
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
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(rows: list[dict], bounds: dict[str, float]) -> None:
    names = list(rows[0]["metrics"])
    print(f"{len(rows)} runs; correct={all(r['correct'] for r in rows)}; failed share="
          f"{sorted({r['failed'] / r['attempted'] for r in rows})}")
    print(f"{'metric':34} {'median':>12} {'spread':>8} {'bound':>6}")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in rows]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(n)
        flag = "" if b is None or spread < b / 3 else "  <-- above bound/3"
        print(f"{n:34} {med:12.4f} {spread:8.3f} {'' if b is None else b:>6}{flag}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--summarize-only", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(HERE, ".work", "spread")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{args.workload}-t{args.trace}.jsonl")
    if not args.summarize_only:
        for s in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", args.workload, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"seed {s}: exit {p.returncode} in {time.time() - t0:.1f}s", flush=True)
            if p.returncode != 0:
                print(p.stderr[-2000:], file=sys.stderr)
                continue
            phases = [x for x in p.stderr.splitlines() if x.startswith("[")]
            with open(log, "a") as f:
                f.write(json.dumps({"seed": s, "wall_s": time.time() - t0, "phases": phases,
                                    **json.loads(line)}) + "\n")
    with open(log) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    summarize(rows, bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
