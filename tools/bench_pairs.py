#!/usr/bin/env python3
"""Alternating benchmark pairs: one workload in two checkouts.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload load \
        --pairs 10 [--first-seed 1] [--seconds 16] [--trace 0|1] [--raw FILE]

Pair i runs `perfbench/run.py --workload W --seed first-seed+i` once in
each checkout; even pairs run the parent first, odd pairs the change
first, so drift on the host falls on both sides alike. For every
end-to-end metric of BENCHMARK.json (read from the change checkout) it
prints each side's median and quartiles, the pairs the change won, and
whether the medians differ by more than the parent's interquartile
range. --trace is passed through to run.py; with --trace 1 it also
prints each side's median and quartiles of every per-layer metric of
BENCHMARK.json that is not 0 on both sides (`discogsxml.parse_s`,
`discogsload.jobs`, `sinks.write_s`, ...), so a difference in the
end-to-end metrics comes with the profile that explains it. --raw
appends every run's result line to FILE as JSON.

Exits 1 if any run fails: run.py exits non-zero, or its result reports
a wrong output or a failed op.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns its result object, or None."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def quartiles(xs):
    """(q1, median, q3); a single value is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw")
    a = ap.parse_args()

    spec = json.loads((Path(a.change) / "BENCHMARK.json").read_text())
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end"]]
    sides = {"parent": a.parent, "change": a.change}
    results = {"parent": [], "change": []}
    failed = False
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            ok = r is not None and r.get("correct") and r.get("failed") == 0
            print(f"[pairs] pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  + ("ok" if ok else f"FAILED {r and {k: r[k] for k in r if k != 'metrics'}}"),
                  file=sys.stderr, flush=True)
            failed |= not ok
            results[side].append(r)
            if a.raw and r is not None:
                with open(a.raw, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "workload": a.workload,
                                        "result": r}) + "\n")

    def values(side, name):
        return [r["metrics"][name]["value"] if r and name in r["metrics"] else None
                for r in results[side]]

    print(f"{a.workload}: {a.pairs} pairs, seeds {a.first_seed}-{a.first_seed + a.pairs - 1}, "
          "median [q1-q3], parent -> change")
    for name, better in metrics:
        p, c = values("parent", name), values("change", name)
        both = [(x, y) for x, y in zip(p, c) if x is not None and y is not None]
        if not both:
            print(f"  {name}: no values")
            continue
        ps, cs = [x for x, _ in both], [y for _, y in both]
        pq, cq = quartiles(ps), quartiles(cs)
        won = sum(1 for x, y in both if (y < x if better == "lower" else y > x))
        beyond = abs(cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"  {name}: {pq[1]:.4g} [{pq[0]:.4g}-{pq[2]:.4g}] -> "
              f"{cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}]; change won {won}/{len(both)}; "
              f"median gap {'>' if beyond else '<='} parent IQR")
    if a.trace:
        print("  per layer, median [q1-q3], parent -> change:")
        for m in spec["per_layer"]:
            p, c = values("parent", m["name"]), values("change", m["name"])
            ps, cs = [x for x in p if x is not None], [y for y in c if y is not None]
            if not ps or not cs or not any(ps + cs):
                continue
            pq, cq = quartiles(ps), quartiles(cs)
            print(f"    {m['name']} ({m['unit']}): {pq[1]:.4g} [{pq[0]:.4g}-{pq[2]:.4g}] -> "
                  f"{cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}]")
    for side in ("parent", "change"):
        ops = [(r["failed"], r["attempted"]) for r in results[side] if r]
        print(f"  failed ops, {side}: {sum(f for f, _ in ops)}/{sum(n for _, n in ops)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
