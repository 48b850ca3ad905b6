"""Steadiness self-check: run the benchmark N times per workload, each run
with its own seed, and print every end-to-end metric's median, quartiles
and spread (interquartile distance as a share of the median) against the
bound BENCHMARK.json fixes for it.

    python3 perfbench/steady.py --runs 10 --seed-base 100
    python3 perfbench/steady.py --compare .perfbench/steady-a.json .perfbench/steady-b.json

A spread below a third of the bound reads "steady"; within the bound,
"within bound"; above it, "NOISY". --compare checks that the second set's
medians are not worse than the first's by more than each bound.
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

from run import load_spec  # noqa: E402
from stats import spread  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if out.returncode != 0:
        raise SystemExit(f"run failed ({workload} seed {seed}):\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["report"] = lines[:-1]  # per-template p50s, rank neighbourhoods
    return result


def verdict(s: float, bound: float) -> str:
    if s <= bound / 3:
        return "steady"
    return "within bound" if s <= bound else "NOISY"


def summarize(spec: dict, runs: dict[str, list[dict]]) -> None:
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    for workload, results in runs.items():
        walls = [r["wall_s"] for r in results]
        bad = sum(1 for r in results if not r["correct"])
        print(f"\n{workload}: {len(results)} runs, {bad} incorrect, "
              f"wall per run median {spread(walls)['median']:.1f} s, max {max(walls):.1f} s")
        print(f"  {'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
              f"{'bound':>6s}  verdict")
        for name, m in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            s = spread(vals)
            v = verdict(s["spread"], m["bound"])
            print(f"  {name:16s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
                  f"{s['spread']:8.4f} {m['bound']:6.3f}  {v}")


def compare(spec: dict, a_path: str, b_path: str) -> int:
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    worst = 0
    for workload in a:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            ma = spread([r["metrics"][name]["value"] for r in a[workload]])["median"]
            mb = spread([r["metrics"][name]["value"] for r in b[workload]])["median"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            ok = worse <= bound
            worst += not ok
            print(f"{workload:16s} {name:16s} {ma:12.4f} -> {mb:12.4f} "
                  f"worse by {worse:+.4f} (bound {bound})  {'ok' if ok else 'REGRESSED'}")
    return 1 if worst else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=100)
    ap.add_argument("--workloads", default="", help="comma list; default all")
    ap.add_argument("--out", default="", help="where to save the raw results (JSON)")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    spec = load_spec()
    if args.compare:
        return compare(spec, *args.compare)
    names = [w for w in args.workloads.split(",") if w] or [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[dict]] = {}
    for w in names:
        runs[w] = []
        for i in range(args.runs):
            r = one_run(w, args.seed_base + i, spec["run_seconds"])
            runs[w].append(r)
            print(f"{w} seed {args.seed_base + i}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                + f" ({r['wall_s']:.0f} s)", flush=True)
    out = args.out or os.path.join(ROOT, ".perfbench", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(runs, fh)
    summarize(spec, runs)
    print(f"\nraw results: {os.path.relpath(out, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
