#!/usr/bin/env python3
"""A/B pairs of the incremental-sync benchmark across two checkouts.

    python3 tools/ab_syncbench.py --parent DIR --change DIR
        [--workload crawl_nightly] [--pairs 10] [--first-seed 1]
        [--json OUT]

Runs `python3 syncbench/run.py --workload W --seed S --trace 0` in each
checkout, N pairs in all. Pair i uses seed first_seed + i for both
sides, and the side that runs first alternates every pair (parent first
on even pairs, change first on odd ones), so host drift and warm-up hit
both sides alike. Each run builds and writes only inside its own
checkout (see syncbench/run.py); this tool writes nothing there.

Prints each run's end-to-end metrics, then per metric: the parent's
median with its quartiles, the change's median, and in how many pairs
the change was better (by the metric's direction in BENCHMARK.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed):
    cmd = [sys.executable, "syncbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {out.returncode})")
    res = json.loads(lines[-1])
    return {
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: v["value"] for k, v in res["metrics"].items()},
    }


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", default="crawl_nightly")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(sides[side], args.workload, seed)
            res["seed"] = seed
            runs[side].append(res)
            m = res["metrics"]
            print(f"pair {i} seed {seed} {side:6s} correct={res['correct']} "
                  f"failed={res['failed']} attempted={res['attempted']} " +
                  " ".join(f"{k}={m[k]:.6g}" for k in sorted(m)), flush=True)

    print(f"\n{args.workload}: {args.pairs} pairs, seeds "
          f"{args.first_seed}-{args.first_seed + args.pairs - 1}")
    print(f"  {'metric':22s} {'parent median [q1, q3]':>34s} {'change median':>14s}  change better")
    for name in sorted(better):
        p = [r["metrics"].get(name) for r in runs["parent"]]
        c = [r["metrics"].get(name) for r in runs["change"]]
        if any(v is None for v in p + c):
            continue
        q1, q3 = quartiles(sorted(p))
        lower = better[name] == "lower"
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        print(f"  {name:22s} {statistics.median(p):>12.6g} [{q1:.6g}, {q3:.6g}]"
              f" {statistics.median(c):>14.6g}  {wins}/{len(p)}")
    bad = [(s, r["seed"]) for s in runs for r in runs[s]
           if not r["correct"] or r["failed"]]
    print("  every run correct with 0 failed" if not bad else f"  NOT CLEAN: {bad}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)


if __name__ == "__main__":
    main()
