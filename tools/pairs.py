#!/usr/bin/env python3
"""Alternating-pair runs of the repo benchmark over two checkouts.

    python3 tools/pairs.py BASE_DIR CHANGE_DIR --workload bm25_serve \
        --seeds 1101-1110 [--seconds 24] [--trace 0] [--json out.json]

BASE_DIR and CHANGE_DIR are checkout roots that each hold BENCHMARK.json
and perfbench/. For each seed the two sides run `perfbench/run.py` one
after the other, and the side that runs first alternates from seed to
seed, so drift on the host loads both sides alike. Each run prints its
per-pair values as it finishes. At the end, for every metric the run
reported (end-to-end with --trace 0, per-layer with --trace 1), the
script prints each side's median and quartiles, the number of pairs the
change wins (lower or higher is better as CHANGE_DIR's BENCHMARK.json
declares it; a tie is not a win), and every failed run: a non-zero exit,
no result line, or a result with failed operations.

The script only runs perfbench/run.py in each directory; it changes no
file of either checkout (run.py builds into each checkout's own
.bench_build/).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds += range(int(lo), int(hi) + 1)
        else:
            seeds.append(int(part))
    return seeds


def run(side, root, a, seed):
    """One benchmark run; returns (result or None, error text or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None, f"{side} seed {seed}: exit {p.returncode}: " \
                     f"{p.stderr.strip()[-300:]}"
    res = json.loads(lines[-1])
    if res.get("failed", 0) > 0 or not res.get("correct", False):
        return res, f"{side} seed {seed}: {res.get('failed')} of " \
                    f"{res.get('attempted')} operations failed"
    return res, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma list and/or ranges, e.g. 1101-1110,1201")
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()

    roots = {"base": os.path.abspath(a.base),
             "change": os.path.abspath(a.change)}
    with open(os.path.join(roots["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}

    pairs, failures = [], []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res, err = run(side, roots[side], a, seed)
            pair[side] = res
            if err:
                failures.append(err)
                print(f"FAILED {err}", flush=True)
        pairs.append(pair)
        vals = []
        for side in ("base", "change"):
            m = (pair[side] or {}).get("metrics", {})
            vals.append(" ".join(f"{k}={v['value']:.4g}"
                                 for k, v in sorted(m.items())))
        print(f"seed {seed} (first: {order[0]})\n  base   {vals[0]}\n"
              f"  change {vals[1]}", flush=True)

    done = [p for p in pairs if p["base"] and p["change"]]
    names = sorted({k for p in done for k in p["base"]["metrics"]})
    print(f"\n{a.workload}: {len(done)} complete pairs of "
          f"{len(pairs)}, {len(failures)} failed runs")
    print(f"{'metric':44} {'base q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'med Δ':>8} wins")
    for name in names:
        b = [p["base"]["metrics"][name]["value"] for p in done
             if name in p["change"]["metrics"]]
        c = [p["change"]["metrics"][name]["value"] for p in done
             if name in p["change"]["metrics"]]
        if not b:
            continue
        bq, cq = quartiles(b), quartiles(c)
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        print(f"{name:44} {bq[0]:8.4g} {bq[1]:9.4g} {bq[2]:9.4g} "
              f"{cq[0]:8.4g} {cq[1]:9.4g} {cq[2]:9.4g} {delta:+8.1%} "
              f"{wins}/{len(b)}")
    for err in failures:
        print(f"failed: {err}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "pairs": pairs,
                       "failures": failures}, f, indent=1)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
