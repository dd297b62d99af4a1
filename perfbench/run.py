#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload bi_sql --seed 1 --seconds 10 --trace 0

`--workload all` runs the four workloads in turn. Run from the root of
a checkout. The first run builds the benchmark (perfbench/jvm, which
compiles graft's sources with it) with sbt; later
runs reuse the build while the sources are unchanged. The JVM writes
raw measurements; this script turns them into metrics, prints one
line per metric, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 they are its per_layer metrics, and the spans and layer
split go to .bench_build/traces/. Exit code 0 means every output check
passed. See perfbench/BENCHMARK.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_DIR = os.path.join(HERE, "jvm")
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "src", "main", "resources"),
           os.path.join(JVM_DIR, "src"), os.path.join(JVM_DIR, "build.sbt"),
           os.path.join(JVM_DIR, "project", "build.properties")]
RUN_LIMIT_S = 170  # the JVM is stopped after this long

# as in the engine's build.sbt: Spark on JDK 17 outside spark-submit
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the benchmark and graft's sources; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala: run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "export Runtime/fullClasspath"],
                              cwd=JVM_DIR, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench" in l and "classes" in l and ":" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed, see " + log)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def run_jvm(cp, args, work):
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "raw.json")
    # a fixed heap size: a heap that shrinks after the full collections
    # around each phase slows the phase's first operations
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--out", out, "--ops", str(args.ops),
              "--digest", "1" if args.digest else "0",
              "--plant-failure", "1" if args.plant_failure else "0"])
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "%s-seed%d-trace%d.log" % (args.workload, args.seed, args.trace))
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded %d s, see %s" % (RUN_LIMIT_S, log))
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("the JVM exited with %d, see %s" % (code, log))
    with open(out) as f:
        return json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(raw, args):
    """Print the metric lines and return the final JSON object."""
    bench = spec()
    wl = raw["workload"]
    phases = raw["phases"]
    attempted = sum(len(p["ops"]) for p in phases)
    failed_ops = [o for p in phases for o in p["ops"] if not o["ok"]]
    failed = len(failed_ops) + len(raw.get("check_failures", []))
    for o in failed_ops[:10]:
        print("FAILED %s: %s" % (o["kind"], o["error"]))
    for c in raw.get("check_failures", []):
        print("FAILED check: %s" % c)
    if not args.trace:
        e2e, (named, notes), _, _ = metrics.end_to_end(raw)
        for name, value in named.items():
            print("%s %s %.6g %s" % (wl, name, value, metrics.unit_of(name)))
        for note in notes:
            print("%s %s" % (wl, note))
        out = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in bench["end_to_end"]}
    else:
        layers = metrics.layer_metrics(raw)
        split, spans = metrics.layer_split(raw)
        for name, unit in metrics.LAYER_METRICS:
            print("%s %s %.6g %s" % (wl, name, layers[name], unit))
        for layer, share in split.items():
            print("%s split %s %.1f%%" % (wl, layer, 100 * share))
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, "%s-seed%d.json" % (wl, args.seed))
        with open(path, "w") as f:
            json.dump({"workload": wl, "seed": args.seed, "layers": layers, "split": split,
                       "spans": spans}, f)
        print("%s spans and layers written to %s" % (wl, os.path.relpath(path, ROOT)))
        units = dict(metrics.LAYER_METRICS)
        out = {m["name"]: {"value": layers[m["name"]], "unit": units[m["name"]]} for m in bench["per_layer"]}
    return {"correct": failed == 0, "attempted": max(1, attempted), "failed": failed, "metrics": out}


def run_workload(cp, args):
    """Run `args.workload` once: print its metric lines and its result
    line, and return the exit code."""
    work = os.path.join(BUILD, "runs", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    try:
        raw = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.digest:
        print(json.dumps({"workload": args.workload, "seed": args.seed, "digests": raw["digests"]},
                         sort_keys=True))
        return 0
    result = report(raw, args)
    print("%s run took %.1f s" % (args.workload, time.time() - t0))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS) + ["all"],
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int, default=0, help="run this many operations instead of --seconds")
    ap.add_argument("--digest", action="store_true", help="print digests of the generated inputs only")
    ap.add_argument("--plant-failure", action="store_true", help="make one timed operation fail")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the root of a graft checkout")
    cp = build()
    codes = []
    for wl in (sorted(metrics.WORKLOADS) if args.workload == "all" else [args.workload]):
        args.workload = wl
        codes.append(run_workload(cp, args))
    return max(codes)


if __name__ == "__main__":
    sys.exit(main())
