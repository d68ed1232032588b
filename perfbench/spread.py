#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload search_merge --seeds 1-10
    python3 perfbench/spread.py --from results.jsonl   # result lines saved earlier

Runs ``run.py`` once per seed (sequentially, so runs never share the
host), appends each result line to ``--save`` when given, and prints per
metric the median, the quartiles and the interquartile range as a share
of the median -- the spread each ``bound`` in BENCHMARK.json is checked
against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def report(results: list[dict], bounds: dict[str, float]) -> None:
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        mark = "" if bound is None else f"  bound {bound:.2f}{'  OVER' if share > bound else ''}"
        print(f"{name:34s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  iqr/median {share:.3f}{mark}")
    print("attempted", [r["attempted"] for r in results], "failed", [r["failed"] for r in results],
          "correct", all(r["correct"] for r in results))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--save", default="")
    ap.add_argument("--from", dest="from_file", default="")
    args = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if args.from_file:
        with open(args.from_file) as f:
            results = [json.loads(line) for line in f if line.strip()]
    else:
        seconds = args.seconds or str(spec["run_seconds"])
        results = []
        for seed in seeds(args.seeds):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                 "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
                capture_output=True, text=True)
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            line = proc.stdout.strip().splitlines()[-1]
            results.append(json.loads(line))
            if args.save:
                with open(args.save, "a") as f:
                    f.write(line + "\n")
    report(results, bounds)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
