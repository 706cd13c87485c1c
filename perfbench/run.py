#!/usr/bin/env python3
"""graft benchmark: one closed-loop client over one workload at sf0.1.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload app-interactive --seed 1 \
        --seconds 24 --trace 0
    python3 perfbench/run.py --check-order      # iterative-cold, two seeds

Builds the harness and graft's main sources with sbt when they changed,
runs the harness JVM (perfbench/src), checks every key's output, and prints
the metrics. The last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; `--trace 0` reports the
end-to-end metrics and `--trace 1` the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
STATE = os.path.join(HERE, ".state")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# Harness time limit per workload. A benchmark run must end within 180 s;
# iterative-cold (one cycle is ~95 s plus its checks) is run by hand.
RUN_LIMIT_S = {"app-interactive": 165, "batch-cold": 165,
               "iterative-cold": 600}
BUILD_LIMIT_S = 700     # the first run, build included, must end within 900 s
# Half the root build's 8g driver default: the benchmark shares its machine,
# and the harness's peak heap stays well under 4g (the retained heap is
# ~100 MB, the largest collected result a few MB).
HEAP = "4g"

# Mirrors the root build's javaOptions: Spark 4 on JDK 17 outside
# spark-submit, plus the SIMD BLAS module MLlib fits rely on.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def spark_home():
    """The Spark installation graft compiles and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark installation (with jars/)")
    return home


def build():
    """Compile with sbt unless the sources match the last build's stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       HERE, env, out, BUILD_LIMIT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc})", 1)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_child(cmd, cwd, env, out, limit):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def harness(workload, seed, seconds, trace, deadline):
    """Run the harness JVM once; return its result record."""
    run_dir = os.path.join(STATE, f"run-{os.getpid()}-{workload}-{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "check"):
        os.makedirs(os.path.join(run_dir, d))
    result = os.path.join(run_dir, "result.json")
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")])
    cmd = (["java", f"-Xmx{HEAP}", "--add-modules=jdk.incubator.vector"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              f"-Dderby.system.home={run_dir}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", DATA, "--check", os.path.join(run_dir, "check"),
              "--out", result])
    log = os.path.join(run_dir, "harness.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = run_child(cmd, run_dir, dict(os.environ), out,
                       max(10, deadline - time.time()))
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"harness exited {rc} without a result", 1)
    with open(result) as fh:
        res = json.load(fh)
    res["harness_s"] = time.time() - t0
    t1 = time.time()
    res["check"] = check.check_outputs(res, os.path.join(run_dir, "check"), DATA)
    res["check_s"] = time.time() - t1
    shutil.move(result, os.path.join(STATE, f"result-{workload}-{seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def tail_percentile(n):
    """Highest whole percentile with at least 10 of `n` samples beyond it;
    the median when there are fewer than 20 samples."""
    return max(50, min(99, int(100 * (1 - 10 / n)))) if n else 50


def percentile(xs, p):
    """Nearest-rank percentile of sorted `xs`."""
    k = max(0, min(len(xs) - 1, -(-len(xs) * p // 100) - 1))
    return xs[int(k)]


def geomean(xs):
    """Geometric mean of `xs`, one value per key: every op type weighs the
    same and, unlike a rank statistic over a few samples of different op
    types, the value does not jump when two ops swap ranks."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(res):
    """The end-to-end metrics. Each is a median over the timed cycles (per
    key for the latency), so one cycle that a burst of load on the machine
    slows does not move it."""
    ops = [o for o in res["ops"] if o["kind"] in ("query", "substrate")
           and o["cycle"] >= 0]
    bad = set(res["check"]["mismatched"])
    good = lambda o: o["ok"] and o["key"] not in bad
    lat = lambda o: o["build_s"] + o["action_s"]
    cycles, done, per_key = {}, {}, {}
    for o in ops:
        cycles[o["cycle"]] = cycles.get(o["cycle"], 0.0) + lat(o)
        if good(o):
            done[o["cycle"]] = done.get(o["cycle"], 0) + 1
            per_key.setdefault(o["key"], []).append(lat(o))
    ok = sorted(lat(o) for o in ops if good(o))
    n_bad = sum(1 for o in ops if not good(o))
    p_tail = tail_percentile(len(ok))
    key_medians = [statistics.median(xs) for xs in per_key.values()]
    m = {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "cycle_s": (statistics.median(cycles.values()), "s"),
        "ops_per_s": (statistics.median(done.get(c, 0) / t
                                        for c, t in cycles.items()), "1/s"),
        "latency_geomean_s": (geomean(key_medians) if ok else 0.0, "s"),
        "retained_heap_mb": (res["probes"]["retained_heap_mb"], "MB"),
    }
    info = {"failed_frac": n_bad / len(ops),
            "latency_p50_s": percentile(ok, 50) if ok else 0.0,
            "latency_tail_s": percentile(ok, p_tail) if ok else 0.0,
            "tail_percentile": p_tail,
            "latency_samples": len(ok), "cycles": len(cycles)}
    return m, info, len(ops), n_bad


def report(workload, res, trace):
    m, info, attempted, n_bad = end_to_end(res)
    chk = res["check"]
    own = {}
    if trace:
        metrics, own = layers.per_layer(res, set(chk["mismatched"]))
    else:
        metrics = m
    print(f"# workload {workload}: {info['cycles']} cycles, "
          f"{attempted} ops, {n_bad} failed "
          f"(failed_frac {info['failed_frac']:.4f}); tail = "
          f"p{info['tail_percentile']} of {info['latency_samples']} samples")
    print(f"# harness JVM {res['harness_s']:.1f} s (set-up {res['setup']['setup_s']:.1f} s, "
          f"timed {res['timed_s']:.1f} s, output capture "
          f"{res['setup']['capture_s']:.1f} s), output check {res['check_s']:.1f} s")
    for f in chk["failures"]:
        print(f"# check FAIL {f}")
    for o in res["ops"]:
        if not o["ok"] and o["cycle"] == 0:
            print(f"# op FAIL {o['key']}: {o['error']}")
    # Printed but not JSON metrics: failed_frac is 0 on a healthy run, and
    # with the 8-16 ops of a cycle the median and the tail are ranks among
    # a few op types, which jump when two ops swap places; the geometric
    # mean stands for them in the gated set. The per-key and per-substrate
    # times differ between workloads, so they are printed and written to
    # the trace file instead.
    table = dict(metrics, **own) if trace else dict(
        metrics, latency_p50_s=(info["latency_p50_s"], "s"),
        latency_tail_s=(info["latency_tail_s"], "s"),
        failed_frac=(info["failed_frac"], "fraction"))
    for name, (value, unit) in table.items():
        print(f"{name:40s} {value:14.6f} {unit}")
    correct = not chk["failures"] and n_bad == 0
    return {"correct": correct, "attempted": attempted, "failed": n_bad,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}, own


def check_order(seconds):
    """iterative-cold under two seeds must give every key the same output."""
    limit = RUN_LIMIT_S["iterative-cold"]
    a = harness("iterative-cold", 1, seconds, False, time.time() + limit)
    report("iterative-cold", a, False)
    b = harness("iterative-cold", 2, seconds, False, time.time() + limit)
    report("iterative-cold", b, False)
    ha, hb = a["check"]["hashes"], b["check"]["hashes"]
    keys = sorted({o["key"] for o in a["ops"] if o["kind"] == "query"})
    diff, no_output = [], []
    for k in keys:
        if k not in ha and k not in hb:
            status = "no output under either seed (op failed)"
            no_output.append(k)
        elif ha.get(k) != hb.get(k):
            status = "DIFFERS"
            diff.append(k)
        else:
            status = "same"
        print(f"# {k:28s} {status}")
    print(json.dumps({"order_independent": not diff, "differing": diff,
                      "no_output": no_output, "keys": len(keys)}))
    return 0 if not diff else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(RUN_LIMIT_S))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-order", action="store_true")
    a = ap.parse_args()
    check.verify_data(DATA)
    os.makedirs(STATE, exist_ok=True)
    build()
    if a.check_order:
        return check_order(1)
    if not a.workload:
        fail("--workload is required")
    res = harness(a.workload, a.seed, a.seconds, a.trace == 1,
                  time.time() + RUN_LIMIT_S[a.workload])
    out, own = report(a.workload, res, a.trace == 1)
    if a.trace:
        metrics = {k: (v["value"], v["unit"]) for k, v in out["metrics"].items()}
        layers.write_trace(res, dict(metrics, **own),
                           os.path.join(STATE, f"trace-{a.workload}-{a.seed}.json"))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
