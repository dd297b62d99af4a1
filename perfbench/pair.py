#!/usr/bin/env python3
"""Paired comparison of a parent and a change on the graft benchmark.

Run pairs, alternating which side goes first (each side is a checkout
holding BENCHMARK.json and perfbench/):

    python3 perfbench/pair.py run --parent ../parent --change . --pairs 10 --out pairs.jsonl

Decide, for each (end-to-end metric, workload), one of: improved, no
worse, worse, unresolved; and compare failed_ratio:

    python3 perfbench/pair.py decide pairs.jsonl

The rule (choosing-metrics guide, section 8), with each metric's
bound from BENCHMARK.json and `spread` the larger of the two sides'
quartile distance over median:

- improved: the change wins at least 9 in 10 pairs (ties count for
  neither) and the medians differ by more than the parent's quartile
  distance;
- no worse: the change's median is worse than the parent's by at most
  the bound, and the spread is within the bound or every run of the
  change is better than every run of the parent;
- worse: the median is worse by more than the bound and the quartile
  ranges do not overlap (or every run of the change is worse);
- unresolved: anything else, i.e. a spread wider than the bound or a
  worsening the quartile ranges cannot separate.

It prints no combined score.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def decide(parent, change, better, bound):
    """Verdict for one metric from paired samples (lists of equal length)."""
    sign = 1.0 if better == "lower" else -1.0  # > 0 means the change is worse

    def worse(c, p):
        return sign * (c - p) > 0

    pm, cm = statistics.median(parent), statistics.median(change)
    (p1, p3), (c1, c3) = quartiles(parent), quartiles(change)
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    worse_by = sign * (cm - pm) / abs(pm) if pm else 0.0
    wins = sum(1 for p, c in zip(parent, change) if worse(p, c))
    all_better = all(worse(p, c) for p in parent for c in change)
    all_worse = all(worse(c, p) for p in parent for c in change)
    overlap = not (c1 > p3 or c3 < p1)
    if wins >= 0.9 * len(parent) and abs(cm - pm) > (p3 - p1) and worse(pm, cm):
        verdict = "improved"
    elif worse_by <= bound and (spread <= bound or all_better):
        verdict = "no worse"
    elif worse_by > bound and (not overlap or all_worse):
        verdict = "worse"
    else:
        verdict = "unresolved"
    return verdict, {"parent_median": pm, "change_median": cm, "parent_q": (p1, p3),
                     "change_q": (c1, c3), "spread": spread, "worse_by": worse_by,
                     "wins": wins, "pairs": len(parent)}


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def cmd_decide(args):
    with open(args.bench) as f:
        bench = json.load(f)
    rows = load(args.pairs)
    workloads = sorted({r["workload"] for r in rows})
    print("%-13s %-17s %-11s %12s %12s %8s %8s %6s" % (
        "workload", "metric", "verdict", "parent_med", "change_med", "worse_by", "spread", "wins"))
    for wl in workloads:
        runs = {}
        for r in rows:
            if r["workload"] == wl:
                runs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        pairs = [p for p in sorted(runs) if len(runs[p]) == 2]
        for m in bench["end_to_end"]:
            par = [runs[p]["parent"]["metrics"][m["name"]]["value"] for p in pairs]
            cha = [runs[p]["change"]["metrics"][m["name"]]["value"] for p in pairs]
            if len(pairs) < 2:
                print("%-13s %-17s %-11s" % (wl, m["name"], "unresolved"))
                continue
            v, d = decide(par, cha, m["better"], m["bound"])
            print("%-13s %-17s %-11s %12.4g %12.4g %+8.3f %8.3f %3d/%d" % (
                wl, m["name"], v, d["parent_median"], d["change_median"], d["worse_by"],
                d["spread"], d["wins"], d["pairs"]))
        fr = {}
        for side in ("parent", "change"):
            att = sum(runs[p][side]["attempted"] for p in pairs)
            fail = sum(runs[p][side]["failed"] for p in pairs)
            fr[side] = fail / att if att else 0.0
        print("%-13s %-17s %-11s %12.4g %12.4g" % (
            wl, "failed_ratio", "no worse" if fr["change"] <= fr["parent"] else "worse",
            fr["parent"], fr["change"]))
    if len(pairs) < 10:
        print("note: %d pairs; the rule asks for at least 10" % len(pairs))


def run_one(checkout, workload, seed, seconds):
    proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise SystemExit("no result from %s (%s, seed %d)" % (checkout, workload, seed))
    return json.loads(lines[-1])


def cmd_run(args):
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                order.reverse()
            for wl in workloads:
                for side, checkout in order:
                    res = run_one(checkout, wl, seed, seconds)
                    out.write(json.dumps({"pair": i, "side": side, "workload": wl, "seed": seed,
                                          "result": res}) + "\n")
                    out.flush()
                    print("pair %d %s %s done" % (i, wl, side), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description="Paired parent/change comparison on the graft benchmark.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating pairs and append results")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    r.add_argument("--seconds", type=float, default=0)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--out", required=True)
    d = sub.add_parser("decide", help="print a verdict per (metric, workload)")
    d.add_argument("pairs")
    d.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    cmd_run(args) if args.cmd == "run" else cmd_decide(args)


if __name__ == "__main__":
    main()
