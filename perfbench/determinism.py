#!/usr/bin/env python3
"""Seed-determinism check of the graft benchmark.

    python3 perfbench/determinism.py --seed 7 [--ops 12] [--workloads bi_sql ...]

For each workload it checks that:

1. the same seed gives byte-identical generated inputs (digests of the
   generated rows, two runs), and a different seed changes them;
2. two traced runs on one seed, each a fixed number of operations
   (--ops, one client), give identical fs.*, spark.jobs, spark.stages,
   spark.tasks and lake.* counts; byte totals are printed beside them.

Exit code 0 when every check holds.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

COUNTS = [n for n, unit in metrics.LAYER_METRICS
          if unit == "count" and n.split(".")[0] in ("fs", "spark", "lake")]
# byte totals are reported, not required to match: the engine writes
# random snapshot ids and floating-point statistics into its metadata
BYTES = [n for n, unit in metrics.LAYER_METRICS
         if unit == "bytes" and n.split(".")[0] in ("fs", "lake")]


def run(*args):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise SystemExit("run.py %s produced no result" % " ".join(args))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description="Seed-determinism check of the graft benchmark.")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--ops", type=int, default=12)
    ap.add_argument("--workloads", nargs="*", default=sorted(metrics.WORKLOADS))
    args = ap.parse_args()
    ok = True
    for wl in args.workloads:
        a = run("--workload", wl, "--seed", str(args.seed), "--digest")["digests"]
        b = run("--workload", wl, "--seed", str(args.seed), "--digest")["digests"]
        c = run("--workload", wl, "--seed", str(args.seed + 1), "--digest")["digests"]
        same, differs = a == b, a != c
        fixed = sorted(k for k in a if a[k] == c[k])  # tables that do not depend on the seed
        print("%s inputs: same seed identical=%s, other seed differs=%s (%s%s)"
              % (wl, same, differs, ", ".join(sorted(a)),
                 "; seed-independent: " + ", ".join(fixed) if fixed else ""))
        ok &= same and differs
        common = ["--workload", wl, "--seed", str(args.seed), "--trace", "1", "--ops", str(args.ops)]
        r1, r2 = run(*common)["metrics"], run(*common)["metrics"]
        diff = [(k, r1[k]["value"], r2[k]["value"]) for k in COUNTS if r1[k]["value"] != r2[k]["value"]]
        print("%s counts over %d ops: %s" % (wl, args.ops, "identical" if not diff else
                                                "DIFFER %s" % diff))
        print("%s bytes, largest relative difference: %s" % (wl, ", ".join(
            "%s %.2g" % (k, abs(r1[k]["value"] - r2[k]["value"]) / max(1.0, abs(r1[k]["value"])))
            for k in BYTES)))
        ok &= not diff
    print("determinism: %s" % ("ok" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
