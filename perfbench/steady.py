"""Steadiness check: run one workload repeatedly on the same code and
report each end-to-end metric's median, quartiles and spread (the
interquartile distance as a share of the median) against its bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload query_serve --runs 10 [--first-seed 1]

Each run uses its own seed (first-seed, first-seed + 1, ...), one after
another, never in parallel. A metric passes when its spread is below a
third of its bound; ``setup_s`` is reported but its spread is not judged.
Exit status 0 iff every run was correct and every judged metric passed.
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
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    bench = load_bench()
    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        t = time.perf_counter()
        r = one_run(bench, args.workload, seed)
        wall = time.perf_counter() - t
        results.append(r)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: {wall:.0f}s correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
              flush=True)
    ok = all(r["correct"] for r in results)
    print(f"\n{args.workload}: {args.runs} runs, all correct: {ok}")
    print(f"{'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  verdict")
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        s = spread(values)
        judged = m["name"] != "setup_s"
        good = s["spread"] < m["bound"] / 3
        ok = ok and (good or not judged)
        verdict = ("ok" if good else "TOO WIDE") if judged else "not judged"
        print(f"{m['name']:<20}{s['median']:>12.5g}{s['q1']:>12.5g}{s['q3']:>12.5g}"
              f"{s['spread']:>9.3f}{m['bound']:>8.2f}  {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
