"""Arithmetic of the graft benchmark: percentiles, span self time,
driver gap, per-workload end-to-end metrics and per-layer metrics,
computed from the raw measurements the JVM side writes.

Every function here is pure and covered by test_metrics.py.
"""

import statistics

MS = 1e6  # nanoseconds per millisecond


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above
    it: the (beyond + 1)-th largest sample. Returns (value, percentile,
    sample count); with too few samples the maximum stands in and the
    percentile reads 100.
    """
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def slowest_mean(xs, least=3):
    """Mean of the slowest tenth of `xs`, and of at least `least`
    samples: the samples beyond p90. Unlike `tail`, it reaches the
    slowest operations of a run with few samples, such as the commits
    that wait behind maintenance; the floor keeps a single slow sample
    from setting it.
    """
    if not xs:
        return 0.0
    k = max(least, -(-len(xs) // 10))
    return mean(sorted(xs)[-k:])


def merge(intervals):
    """The union of `intervals` as sorted, disjoint intervals."""
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]
    return sum(b - a for a, b in merge(clipped))


def driver_gap(start, end, jobs):
    """Operation wall time not covered by any Spark job span."""
    return (end - start) - union_length(jobs, start, end)


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its child spans cover. `spans` are dicts with id, parent, start, end.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# ----- end-to-end metrics -------------------------------------------------

# For each workload, the op kinds behind each metric: `op` (op_p50_ms),
# `slow` (slow_ops_ms), `read` (read_p50_ms) and `work`
# (throughput_per_s), and what one unit of throughput counts.
WORKLOADS = {
    "bi_sql": {"op": ("statement",), "slow": ("statement",), "read": ("statement_events",),
               "work": ("statement",), "unit": "ops"},
    "lake_ingest": {"op": ("commit",), "slow": ("commit",), "read": ("readback",),
                    "work": ("commit",), "unit": "rows"},
    "catalog_wire": {"op": ("request.",), "slow": ("request.commit",), "read": ("request.load",),
                     "work": ("request.",), "unit": "ops"},
    "llm_dedup": {"op": ("stage.self1nn",), "slow": ("stage.",), "read": ("stage.ivf_query",),
                  "work": ("stage.",), "unit": "rows"},
}


def _is(kind, prefixes):
    return any(kind == p or (p.endswith(".") and kind.startswith(p)) or kind.startswith(p + "_")
               for p in prefixes)


def latency_ms(op):
    """Latency from the op's due time (its start, in a closed loop)."""
    return (op["end"] - op["due"]) / MS


def phase_summary(workload, phase):
    """Latency and throughput of one timed phase."""
    w = WORKLOADS[workload]
    ops = phase["ops"]
    good = [o for o in ops if o["ok"]]

    def lat(key):
        return [latency_ms(o) for o in good if _is(o["kind"], w[key])]

    secs = (phase["end"] - phase["start"]) / 1e9
    done = [o for o in good if _is(o["kind"], w["work"])]
    work = sum(o["extra"].get("rows", 0.0) for o in done) if w["unit"] == "rows" else len(done)
    return {
        "op_p50_ms": median(lat("op")), "slow_ops_ms": slowest_mean(lat("slow")),
        "read_p50_ms": median(lat("read")), "throughput_per_s": work / secs if secs > 0 else 0.0,
        "attempted": len(ops), "failed": len(ops) - len(good), "seconds": secs,
    }


def end_to_end(raw):
    """The metrics BENCHMARK.json lists as end_to_end, plus the
    workload-specific named metrics printed beside them.
    """
    wl = raw["workload"]
    ph = raw["phases"][0]
    s = phase_summary(wl, ph)
    setup = raw["session_s"] + raw["setup_s"] + raw["warmup_s"]
    metrics = {
        "setup_s": (setup, "s"),
        "op_p50_ms": (s["op_p50_ms"], "ms"),
        "slow_ops_ms": (s["slow_ops_ms"], "ms"),
        "read_p50_ms": (s["read_p50_ms"], "ms"),
        "throughput_per_s": (s["throughput_per_s"], "1/s"),
        "heap_peak_mb": (ph["heap_peak_mb"], "MB"),
    }
    named = named_metrics(wl, raw, ph, s)
    failed = s["failed"] + len(raw.get("check_failures", []))
    return metrics, named, s["attempted"], failed


TAIL_FLOOR = 90.0  # a `_tail_ms` below this percentile is not reported as a tail


def named_metrics(wl, raw, ph, s):
    """The workload's metrics under their user-facing names, and one
    note per `_tail_ms` metric: the percentile and sample count the
    tail rule gives, or why it is not reported.
    """
    good = [o for o in ph["ops"] if o["ok"]]

    def lat(prefixes):
        return [latency_ms(o) for o in good if _is(o["kind"], prefixes)]

    out = {"setup_s": raw["session_s"] + raw["setup_s"] + raw["warmup_s"],
           "failed_ratio": (s["failed"] + len(raw.get("check_failures", []))) / max(1, s["attempted"]),
           "heap_peak_mb": ph["heap_peak_mb"]}
    notes = []

    def add_tail(name, samples):
        value, pct, n = tail(samples)
        if n > 10 and pct >= TAIL_FLOOR:
            out[name] = value
            notes.append("%s is p%.1f of %d" % (name, pct, n))
        else:
            reach = "p%.1f" % pct if n > 10 else "no percentile"
            notes.append("%s not reported: %d samples reach %s with 10 beyond it, below p90"
                         % (name, n, reach))

    if wl == "bi_sql":
        out.update(query_p50_ms=s["op_p50_ms"], queries_per_s=s["throughput_per_s"])
        add_tail("query_tail_ms", lat(("statement",)))
    elif wl == "lake_ingest":
        q = lat(("readback",))
        fin = raw.get("finish", {})
        base = max(1, fin.get("base_bytes", 0))
        out.update(query_p50_ms=median(q), commit_p50_ms=s["op_p50_ms"],
                   rows_per_s=s["throughput_per_s"],
                   write_amp=ph["bytes_written"] / base,
                   space_amp=fin.get("head_bytes", 0) / base)
        add_tail("query_tail_ms", q)
        add_tail("commit_tail_ms", lat(("commit",)))
    elif wl == "catalog_wire":
        out.update(request_p50_ms=s["op_p50_ms"],
                   request_limit_ms=raw.get("finish", {}).get("latency_limit_ms", 0.0),
                   requests_per_s=s["throughput_per_s"])
        add_tail("request_tail_ms", lat(("request.",)))
    elif wl == "llm_dedup":
        out.update(rows_per_s=s["throughput_per_s"])
    return out, notes


UNITS = {"setup_s": "s", "failed_ratio": "ratio", "heap_peak_mb": "MB", "rows_per_s": "rows/s",
         "queries_per_s": "1/s", "requests_per_s": "1/s", "write_amp": "ratio", "space_amp": "ratio"}


def unit_of(name):
    return UNITS.get(name, "ms" if name.endswith("_ms") else "")


# ----- per-layer metrics --------------------------------------------------

LAYER_METRICS = [
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("lake.commit_ms", "ms"), ("lake.commit_files", "count"), ("lake.live_files", "count"),
    ("lake.metadata_bytes", "bytes"), ("lake.versions", "count"), ("lake.maintenance_ms", "ms"),
    ("lake.maintenance_bytes_rewritten", "bytes"), ("lake.scan_plan_ms", "ms"),
    ("lake.files_scanned_ratio", "ratio"),
    ("fs.read_ops", "count"), ("fs.write_ops", "count"), ("fs.list_ops", "count"),
    ("fs.rename_ops", "count"), ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_run_ms", "ms"), ("spark.task_cpu_ms", "ms"), ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.stage_skew", "ratio"),
    ("spark.slot_busy_ratio", "ratio"), ("spark.driver_gap_ms", "ms"),
    ("endpoint.config_ms", "ms"), ("endpoint.list_ms", "ms"), ("endpoint.exists_ms", "ms"),
    ("endpoint.load_cold_ms", "ms"), ("endpoint.load_warm_ms", "ms"), ("endpoint.commit_ms", "ms"),
    ("endpoint.load_bytes", "bytes"), ("endpoint.unexpected_status", "count"),
    ("dedup.self1nn_ms", "ms"), ("dedup.pairs_per_s", "1/s"), ("dedup.corpus_ms", "ms"),
    ("dedup.cc_ms", "ms"), ("ann.ivf_build_ms", "ms"), ("ann.ivf_query_ms", "ms"),
    ("ann.recall_at_10", "ratio"),
    ("functions.cosine_rows_per_s", "rows/s"), ("functions.minhash_rows_per_s", "rows/s"),
    ("functions.topk_rows_per_s", "rows/s"),
    ("bench.generator_late_ms", "ms"), ("bench.tracing_overhead", "ratio"),
]

SLOTS = 4  # local[4]


def _jobs_of(phase):
    sp = phase["spark"]
    done = {int(k): v for k, v in sp["stage_tasks"].items()}
    tasks_by_stage = {}
    for t in sp["tasks"]:
        tasks_by_stage.setdefault(t[0], []).append(t)
    jobs = []
    for j in sp["jobs"]:
        if j["end_ms"] < 0:
            continue
        stages = [s for s in j["stages"] if s in done]
        jobs.append({"start": j["start_ms"] * MS, "end": j["end_ms"] * MS, "stages": stages,
                     "tasks": [t for s in stages for t in tasks_by_stage.get(s, [])]})
    return jobs


def _within(t, op):
    # listener times are whole milliseconds: allow one either side
    return op["start"] - MS <= t <= op["end"] + MS


def layer_metrics(raw):
    """Every per-layer metric, from the traced phase of a traced run."""
    wl = raw["workload"]
    traced = next(p for p in raw["phases"] if p["traced"])
    ops = [o for o in traced["ops"] if o["ok"]]
    fin = raw.get("finish_traced", {})
    m = {name: 0.0 for name, _ in LAYER_METRICS}
    concurrent = wl == "catalog_wire"

    # plans: Catalyst phases of the DataFrames each op executed
    per_op = {k: [] for k in ("analysis", "optimization", "planning")}
    for o in ops:
        sums = dict.fromkeys(per_op, 0.0)
        for p in traced["plans"]:
            if "analysis" in p and _within(p["analysis"][0] * MS, o):
                for k in per_op:
                    if k in p:
                        sums[k] += p[k][1] - p[k][0]
        for k in per_op:
            per_op[k].append(sums[k])
    for k in per_op:
        m["plans.%s_ms" % k] = mean(per_op[k])  # whole-millisecond phases: a mean keeps its digits

    # lake: timed calls and trace-time gauges
    spans = [dict(zip(("id", "parent", "op", "name", "start", "end"), s)) for s in traced["spans"]]
    commit = [(s["end"] - s["start"]) / MS for s in spans
              if s["name"] in ("lake.commitPartitionedByDay", "lake.upsertEq")]
    m["lake.commit_ms"] = median(commit)
    m["lake.commit_files"] = mean([o["extra"]["commit_files"] for o in ops if "commit_files" in o["extra"]])
    for g in ("lake.live_files", "lake.versions", "lake.metadata_bytes"):
        m[g] = float(fin.get(g, 0))
    m["lake.maintenance_ms"] = median([o["extra"]["maint_ms"] for o in ops if "maint_ms" in o["extra"]])
    m["lake.maintenance_bytes_rewritten"] = mean(
        [o["extra"]["maint_bytes"] for o in ops if "maint_bytes" in o["extra"]])
    m["lake.scan_plan_ms"] = median([o["extra"]["scan_plan_ms"] for o in ops if "scan_plan_ms" in o["extra"]])
    m["lake.files_scanned_ratio"] = mean(
        [o["extra"]["files_scanned_ratio"] for o in ops if "files_scanned_ratio" in o["extra"]])

    # fs: per-op deltas; concurrent senders share the phase total
    fs_keys = [k for k, _ in LAYER_METRICS if k.startswith("fs.")]
    n_ops = max(1, len(traced["ops"]))
    for k in fs_keys:
        m[k] = (traced["fs"][k] / n_ops if concurrent
                else mean([o["extra"].get(k, 0.0) for o in traced["ops"]]))

    # spark: jobs, stages and tasks attributed to ops by start time
    jobs = _jobs_of(traced)
    n, runs, cpus, gcs, gaps = 0, [], [], [], []
    totals = dict.fromkeys(("jobs", "stages", "tasks", "sw", "sr", "spill", "busy"), 0.0)
    wall = 0.0
    for o in ops:
        mine = [j for j in jobs if _within(j["start"], o)]
        tasks = [t for j in mine for t in j["tasks"]]
        totals["jobs"] += len(mine)
        totals["stages"] += sum(len(j["stages"]) for j in mine)
        totals["tasks"] += len(tasks)
        totals["sw"] += sum(t[5] for t in tasks)
        totals["sr"] += sum(t[6] for t in tasks)
        totals["spill"] += sum(t[7] for t in tasks)
        totals["busy"] += sum(t[1] for t in tasks)
        runs.append(sum(t[2] for t in tasks))
        cpus.append(sum(t[3] for t in tasks))
        gcs.append(sum(t[4] for t in tasks))
        gaps.append(driver_gap(o["start"], o["end"], [(j["start"], j["end"]) for j in mine]) / MS)
        wall += (o["end"] - o["start"]) / MS
    k = max(1, len(ops))
    m["spark.jobs"] = totals["jobs"] / k
    m["spark.stages"] = totals["stages"] / k
    m["spark.tasks"] = totals["tasks"] / k
    m["spark.shuffle_write_bytes"] = totals["sw"] / k
    m["spark.shuffle_read_bytes"] = totals["sr"] / k
    m["spark.spill_bytes"] = totals["spill"] / k
    m["spark.task_run_ms"] = mean(runs)
    m["spark.task_cpu_ms"] = mean(cpus)
    m["spark.gc_ms"] = mean(gcs)
    m["spark.driver_gap_ms"] = median(gaps)
    if concurrent:  # ops overlap: busy share of the phase, not of op wall time
        wall = (traced["end"] - traced["start"]) / MS
    m["spark.slot_busy_ratio"] = totals["busy"] / (wall * SLOTS) if wall > 0 else 0.0
    skews = []
    for j in jobs:
        by_stage = {}
        for t in j["tasks"]:
            by_stage.setdefault(t[0], []).append(t[1])
        skews += [max(d) / max(1e-9, median(d)) for d in by_stage.values() if len(d) >= 2]
    m["spark.stage_skew"] = median(skews)

    # endpoint: client-side service time per route class
    def service(kind):
        return median([(o["end"] - o["start"]) / MS for o in ops if o["kind"] == kind])
    for route, kind in (("config", "request.config"), ("list", "request.list"),
                        ("exists", "request.exists"), ("load_cold", "request.load_cold"),
                        ("load_warm", "request.load"), ("commit", "request.commit")):
        m["endpoint.%s_ms" % route] = service(kind)
    m["endpoint.load_bytes"] = mean([o["extra"].get("bytes", 0.0) for o in ops
                                     if o["kind"] in ("request.load", "request.load_cold")])
    m["endpoint.unexpected_status"] = float(len([o for o in traced["ops"]
                                                 if not o["ok"] and " -> " in o["error"]]))

    # dedup and ann: timed public calls
    def stage(name):
        return [(o["end"] - o["start"]) / MS for o in ops if o["kind"] == "stage." + name]
    m["dedup.self1nn_ms"] = median(stage("self1nn"))
    rows = [o["extra"].get("rows", 0.0) for o in ops if o["kind"] == "stage.self1nn"]
    if rows and m["dedup.self1nn_ms"] > 0:
        m["dedup.pairs_per_s"] = rows[0] * (rows[0] - 1) / (m["dedup.self1nn_ms"] / 1000.0)
    m["dedup.corpus_ms"] = median(stage("dedup_corpus"))
    m["dedup.cc_ms"] = median(stage("cc"))
    m["ann.ivf_build_ms"] = median(stage("ivf_build"))
    m["ann.ivf_query_ms"] = median(stage("ivf_query"))
    m["ann.recall_at_10"] = mean([o["extra"]["recall_at_10"] for o in ops if "recall_at_10" in o["extra"]])

    for k2, v in fin.get("functions", {}).items():
        m[k2] = v

    # bench: generator lateness (open loop) and tracing overhead
    late = [(o["start"] - o["due"]) / MS for o in traced["ops"] if o["due"] < o["start"]]
    m["bench.generator_late_ms"] = tail(late)[0] if concurrent else 0.0
    # against the untraced phases before and after it
    base = mean([phase_summary(wl, p)["op_p50_ms"] for p in raw["phases"] if not p["traced"]])
    m["bench.tracing_overhead"] = phase_summary(wl, traced)["op_p50_ms"] / base - 1.0 if base > 0 else 0.0
    return m


def layer_split(raw):
    """Share of traced op wall time by layer: the self time of each
    layer's spans, with Spark jobs as spans of their own under the
    innermost span they started in.
    """
    traced = next(p for p in raw["phases"] if p["traced"])
    spans = [dict(zip(("id", "parent", "op", "name", "start", "end"), s)) for s in traced["spans"]]
    ops = {s["id"]: s for s in spans if s["name"].startswith("op.")}
    held = {}
    for j in _jobs_of(traced):
        holders = [s for s in spans if s["start"] - MS <= j["start"] <= s["end"] + MS]
        if holders:
            inner = max(holders, key=lambda s: s["start"])
            held.setdefault(inner["id"], (inner, []))[1].append((j["start"], j["end"]))
    # concurrent jobs under one span count once: one spark span per
    # stretch of their union
    next_id = -1
    for inner, jobs in held.values():
        for a, b in merge(jobs):
            a, b = max(a, inner["start"]), min(b, inner["end"])
            if b > a:
                spans.append({"id": next_id, "parent": inner["id"], "op": inner["op"],
                              "name": "spark.job", "start": a, "end": b})
                next_id -= 1
    selfs = self_times(spans)
    total = sum(s["end"] - s["start"] for s in ops.values())
    split = {}
    for s in spans:
        # op spans' self time is code outside every layer span and job
        layer = "other" if s["name"].startswith("op.") else s["name"].split(".")[0]
        split[layer] = split.get(layer, 0.0) + selfs[s["id"]]
    return {k: v / total for k, v in sorted(split.items())} if total > 0 else {}, spans
