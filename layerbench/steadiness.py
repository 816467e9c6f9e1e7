"""Run the benchmark on several seeds and report each metric's spread.

Usage (from the repository root):

    python3 layerbench/steadiness.py --runs 10 [--workload NAME ...] [--out FILE.jsonl]

For each workload it makes ``--runs`` untraced runs, seeds 1..N, one at
a time, and prints a markdown table per workload: each end-to-end
metric's median, first and third quartile (``statistics.quantiles(n=4)``)
and the quartile distance as a share of the median, beside the metric's
bound from BENCHMARK.json. It also prints each run's wall time, which
sets how long the full sweep takes. Existing results in ``--out`` are
re-read instead of re-run with ``--report``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    start = time.perf_counter()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", "0"],
        capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - start
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    # the unscaled latency metrics and the probe time, from the line
    # "layerbench: host probe median_ms=... unscaled ops_per_s=... ..."
    unscaled = {}
    for line in lines:
        if line.startswith("layerbench: host probe "):
            for word in line.split():
                key, _, value = word.partition("=")
                if value:
                    unscaled[key] = float(value)
    return {"workload": workload, "seed": seed, "wall_s": wall, "unscaled": unscaled, **result}


def report(rows: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in dict.fromkeys(r["workload"] for r in rows):
        runs = [r for r in rows if r["workload"] == w]
        walls = [r["wall_s"] for r in runs]
        ok = all(r["correct"] for r in runs)
        print(f"\n### {w}: {len(runs)} runs, all correct: {ok}, "
              f"wall median {statistics.median(walls):.1f} s (max {max(walls):.1f} s)\n")
        print("| metric | unit | median | q1 | q3 | (q3-q1)/median | bound |")
        print("|---|---|---|---|---|---|---|")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            unit = runs[0]["metrics"][name]["unit"]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else 0.0
            print(f"| {name} | {unit} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {bound} |")
        unscaled = [r.get("unscaled") for r in runs]
        if all(unscaled):
            print("\nUnscaled, for comparison (probe median_ms is the host probe's time):\n")
            print("| metric | median | (q3-q1)/median |")
            print("|---|---|---|")
            for name in ("median_ms", "ops_per_s", "op_p50_ms", "op_tail_ms"):
                vals = [u[name] for u in unscaled]
                q1, _, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                label = "probe median_ms" if name == "median_ms" else name
                print(f"| {label} | {med:.4g} | {(q3 - q1) / med:.3f} |")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="append each run's result to this JSON-lines file")
    ap.add_argument("--report", action="store_true", help="only summarise --out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    rows: list[dict] = []
    if args.report:
        with open(args.out) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    else:
        names = args.workload or [w["name"] for w in bench["workloads"]]
        for w in names:
            for seed in range(1, args.runs + 1):
                row = run_once(bench["command"], w, seed, bench["run_seconds"])
                rows.append(row)
                print(f"{w} seed {seed}: wall {row['wall_s']:.1f} s "
                      f"correct {row['correct']}", file=sys.stderr, flush=True)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps(row) + "\n")
    report(rows, bench)
    return 0


if __name__ == "__main__":
    os.environ.setdefault("PYTHONUNBUFFERED", "1")
    sys.exit(main())
