"""Per-layer metrics and the span file of a traced run.

Spans form a tree per timed op: the op span (the registry call plus the
final materialization) is the parent of the Spark jobs and stages its
calls submitted. Self times come from the span intervals: the driver gap
is the part of an op's wall time no running stage covers.
"""
import json
import statistics

MB = 1048576.0


def covered(spans, lo, hi):
    """Length of the union of (start, end) `spans` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def timed_ops(res, traced):
    return [o for o in res["ops"] if o["kind"] in ("query", "substrate")
            and o["cycle"] >= 0 and o["traced"] == traced]


def cycle_times(ops):
    cycles = {}
    for o in ops:
        cycles[o["cycle"]] = cycles.get(o["cycle"], 0.0) + o["build_s"] + o["action_s"]
    return list(cycles.values())


def per_layer(res, bad=()):
    """The per-layer metrics every workload reports, and the ones named
    after the workload's own keys and substrates (`op_s.<key>`,
    `substrate.<name>_s`), which are left out for a key or substrate with
    no successful op rather than read as 0. Keys in `bad` failed the output
    check and are left out too."""
    ops = timed_ops(res, True)
    n = max(1, len(ops))
    ids = {o["id"]: o for o in ops}
    queries = [o for o in ops if o["kind"] == "query"]
    nq = max(1, len(queries))
    qids = {o["id"] for o in queries}
    jobs = [j for j in res["jobs"] if j["op"] in ids]
    stages = [s for s in res["stages"] if s["op"] in ids]
    by_op = {}
    for s in stages:
        by_op.setdefault(s["op"], []).append((s["start_ms"], s["end_ms"]))
    busy = [covered(by_op.get(i, []), o["start_ms"], o["end_ms"]) / 1e3
            for i, o in ids.items()]
    walls = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in ids.values()]
    tot = lambda f: sum(s[f] for s in stages)
    skewed = [s["max_task_records"] / s["records"] for s in stages
              if s["tasks"] >= 2 and s["records"] >= 10000]
    m = {
        "session.start_s": (res["setup"]["session_s"], "s"),
        "setup.warm_s": (res["setup"]["warm_s"], "s"),
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.stages_per_op": (len(stages) / n, "count"),
        "spark.tasks_per_op": (tot("tasks") / n, "count"),
        "spark.driver_gap_s_per_op": ((sum(walls) - sum(busy)) / n, "s"),
        "spark.stage_busy_s_per_op": (sum(busy) / n, "s"),
        "spark.task_cpu_s_per_op": (tot("cpu_ns") / 1e9 / n, "s"),
        "spark.gc_s_per_op": (tot("gc_ms") / 1e3 / n, "s"),
        "spark.shuffle_write_mb_per_op": (tot("shuffle_write_b") / MB / n, "MB"),
        "spark.shuffle_read_mb_per_op": (tot("shuffle_read_b") / MB / n, "MB"),
        "spark.spill_mb_per_op": (tot("spill_b") / MB / n, "MB"),
        "spark.input_mb_per_op": (tot("input_b") / MB / n, "MB"),
        "spark.output_mb_per_op": (tot("output_b") / MB / n, "MB"),
        "spark.single_task_stages_per_op":
            (sum(1 for s in stages if s["tasks"] == 1) / n, "count"),
        "spark.max_task_share": (max(skewed, default=0.0), "fraction"),
        "spark.failed_tasks": (tot("failed_tasks"), "count"),
        "entry.build_s_per_op":
            (sum(o["build_s"] for o in queries) / nq, "s"),
        "entry.action_s_per_op":
            (sum(o["action_s"] for o in queries) / nq, "s"),
        "entry.eager_jobs_per_op":
            (sum(1 for j in jobs if j["op"] in qids and j["phase"] == "build") / nq,
             "count"),
    }
    made = [c["memo_end"] - c["memo_start"] for c in res["cycles"]]
    m["substrate.builds_per_cycle"] = (statistics.median(made), "count")
    # JVM counters over the traced cycles: whole-stage codegen compiles and
    # the JIT time that follows them, both part of per-op fixed cost.
    traced_cycles = [c for c in res["cycles"] if c["traced"]]
    m["spark.codegen_compiles_per_op"] = (
        sum(c["codegen_compiles"] for c in traced_cycles) / n, "count")
    m["jvm.jit_s_per_op"] = (
        sum(c["jit_ms"] for c in traced_cycles) / 1e3 / n, "s")
    p = res["probes"]
    m["storage.persisted_rdds_end"] = (p["persisted_rdds_end"], "count")
    m["storage.persisted_rdds_after_release"] = (p["persisted_rdds_after_release"], "count")
    m["storage.mem_mb_end"] = (p["mem_mb_end"], "MB")
    m["storage.tmp_disk_mb_end"] = (p["tmp_disk_mb_end"], "MB")
    m["storage.heap_mb_after_release"] = (p["heap_mb_after_release"], "MB")
    # Against the untraced cycles after the first, which alone still pays
    # warm-up (all of it, on the cold workloads).
    traced = cycle_times(ops)
    plain = cycle_times([o for o in timed_ops(res, False) if o["cycle"] > 0])
    m["trace.overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1, "fraction")
    # Per key and per substrate, over every timed cycle, traced or not.
    lat = {}
    for o in timed_ops(res, True) + timed_ops(res, False):
        if o["ok"] and o["key"] not in bad:
            lat.setdefault(o["key"], []).append(o["build_s"] + o["action_s"])
    own = {}
    for k in res["keys"]:
        if k in lat:
            own[f"op_s.{k}"] = (statistics.median(lat[k]), "s")
    for name in res["substrates"]:
        xs = lat.get(f"substrate.{name}")
        if xs:
            own[f"substrate.{name}_s"] = (statistics.median(xs), "s")
    return m, own


def write_trace(res, metrics, path):
    """Write the run's per-layer metrics and its spans: ops, and the jobs
    and stages under them."""
    spans = []
    for o in res["ops"]:
        spans.append({"span": f"op:{o['id']}", "parent": None, "name": o["key"],
                      "kind": o["kind"], "cycle": o["cycle"], "traced": o["traced"],
                      "start_ms": o["start_ms"], "end_ms": o["end_ms"],
                      "build_s": o["build_s"], "action_s": o["action_s"],
                      "ok": o["ok"], "error": o["error"]})
    for j in res["jobs"]:
        spans.append({"span": f"job:{j['job']}", "parent": f"op:{j['op']}",
                      "name": f"job {j['job']} ({j['phase']})",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                      "stages": j["stages"]})
    for s in res["stages"]:
        spans.append(dict(s, span=f"stage:{s['stage']}", parent=f"op:{s['op']}",
                          name=f"stage {s['stage']}"))
    with open(path, "w") as fh:
        json.dump({"workload": res["workload"], "seed": res["seed"],
                   "metrics": {k: {"value": v, "unit": u}
                               for k, (v, u) in metrics.items()},
                   "spans": spans}, fh, indent=0)
