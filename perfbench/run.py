#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark from source (sbt, once per source state) into
`.bench_build/`; every run then generates its seeded inputs, runs one
JVM for set-up, timed passes and the output check, compares batch
outputs with DuckDB, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("batch_sweep", "stream_ingest")
CORES = os.cpu_count() or 4
HEAP = "3g"
DEADLINE_S = 175
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
MODULES = ["api.reduce", "api.scan", "api.layout", "ops.dedup", "ops.similarity",
           "ops.text", "ops.web", "ops.events", "sources", "streaming"]
# Per-layer metrics (traced run) with their kind: a count or a time.
LAYER_METRICS = [
    ("construct.ms", "ms"), ("construct.jobs", "count"), ("construct.self_ms", "ms"),
    ("cache.pins", "count"), ("cache.pinned_bytes", "bytes"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"),
    ("action.self_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_ms", "ms"), ("exec.cpu_ms", "ms"),
    ("sched.idle_ms", "ms"), ("sched.busy_share", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("spill.memory_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"), ("scan.rows", "count"), ("scan.bytes", "bytes"),
    ("jvm.gc_ms", "ms"), ("dispatch.keystats_ms", "ms"), ("dispatch.keystats_jobs", "count"),
    ("streaming.add_batch_ms", "ms"), ("streaming.planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
    ("trace.overhead", "ratio"),
] + [(m + suffix, unit) for m in MODULES for suffix, unit in
     ((".ms", "ms"), (".jobs", "count"), (".task_ms", "ms"), (".shuffle_bytes", "bytes"))]


def log(msg):
    print("[perfbench] " + msg, flush=True)


def source_stamp():
    """Digest of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target" and not x.startswith("."))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the built program plus benchmark; builds if stale."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        sys.exit("perfbench: no program sources next to the benchmark; run from a checkout")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and benchmark (sbt)")
    t0 = time.time()
    # sbt's global state and temporary files stay inside the checkout
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    r = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "-Djava.io.tmpdir=" + sbt_tmp, "-Dperfbench.cpfile=" + cp_file, "writeClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return open(cp_file).read().strip()


def generate(seed):
    """Inputs of `seed` (gen.py), generated once per seed."""
    name = "s%d" % seed
    out = os.path.join(BUILD, "data", name)
    if not os.path.exists(os.path.join(out, "_tables.json")):
        shutil.rmtree(out, ignore_errors=True)
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
                            "--out", out], stdout=subprocess.PIPE, text=True, timeout=120)
        if r.returncode != 0:
            sys.exit("perfbench: input generation failed")
    # keep the most recent generated inputs only
    root = os.path.join(BUILD, "data")
    old = sorted(os.listdir(root), key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in old[:-12]:
        if d != name:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    tables = json.load(open(os.path.join(out, "_tables.json")))["tables"]
    for t, v in sorted(tables.items()):
        log("input %-10s rows=%d bytes=%d" % (t, v["rows"], v["bytes"]))
    return out


def run_jvm(cp, workload, data, work, seconds, trace, seed, budget):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # A fixed heap size keeps G1 from resizing around the per-operation
    # full GCs, and C1-only JIT reaches its steady code within the
    # warm-up pass; with both, pass times are flat from the first timed
    # pass instead of drifting with how many passes fit in the window.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + opens + \
          ["-cp", cp, "perfbench.Main", workload, data, work, str(seconds),
           str(trace), str(seed), str(CORES)]
    proc = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: JVM exceeded its %d s budget" % budget)
    with open(os.path.join(work, "jvm.log"), "w") as f:
        f.write(out)
    for line in out.splitlines():
        if line.startswith("[perfbench]"):
            print(line, flush=True)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(l for l in out.splitlines()
                                   if not l.startswith(("\tat ", "\t\tat ")))[-4000:])
        sys.exit("perfbench: JVM failed with code %d" % proc.returncode)
    return json.load(open(os.path.join(work, "raw.json")))


def percentile(xs, q):
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    t_start = time.time()  # the 180 s limit applies after a build
    data = generate(a.seed)
    work = os.path.join(BUILD, "runs", "%s_s%d_t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    budget = int(DEADLINE_S - (time.time() - t_start) - 15)
    t_jvm = time.time()
    raw = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, a.seed, budget)
    log("jvm %.1f s (after %.1f s of input generation)" % (time.time() - t_jvm, t_jvm - t_start))
    t_check = time.time()

    # output check: JVM-side failures plus the DuckDB compare
    check_fail = dict(raw["check_failures"])
    if a.workload != "stream_ingest":
        import check
        check_fail.update(check.check(data, os.path.join(work, "out"), raw["op_names"]))
    log("check %.1f s" % (time.time() - t_check))
    for name, why in sorted(check_fail.items()):
        log("CHECK FAILED %s: %s" % (name, why))
    ops = raw["ops"]
    failed_ops = [o for o in ops if o["error"] is not None or o["name"] in check_fail]
    for o in failed_ops:
        if o["error"] is not None:
            log("FAILED pass %d %s: %s" % (o["pass"], o["name"], o["error"]))
    attempted, failed = len(ops), len(failed_ops)
    env = raw["env"]
    log("env " + json.dumps(env, sort_keys=True))

    untraced = [o for o in ops if not o["traced"] and o["error"] is None]
    op_s = [o["construct_s"] + o["action_s"] for o in untraced]
    passes = raw["pass_s"]
    log("passes untraced=%d traced=%d ops timed=%d attempted=%d failed=%d fail_ratio=%.4f"
        % (len(passes), len(raw["traced_pass_s"]), len(op_s), attempted, failed,
           failed / max(1, attempted)))
    by_op = {}
    for o in untraced:
        by_op.setdefault(o["name"], []).append(o)
    for n, xs in sorted(by_op.items()):
        log("op %-28s n=%d median_s=%.4f max_heap_mb=%.1f"
            % (n, len(xs), statistics.median(o["construct_s"] + o["action_s"] for o in xs),
               max(o["heap_mb"] for o in xs)))

    if a.trace == 0:
        metrics = {
            "pass_s": (statistics.median(passes), "s"),
            "op_s.p50": (percentile(op_s, 0.5), "s"),
            "op_s.p90": (percentile(op_s, 0.9), "s"),
            "setup_s": (raw["setup_s"], "s"),
            "heap_live_mb": (raw["heap_live_mb"], "MB"),
        }
    else:
        layers = raw["layers"]
        metrics = {}
        for m, unit in LAYER_METRICS:
            vals = [p.get(m, 0.0) for p in layers]
            metrics[m] = (statistics.median(vals) if vals else 0.0, unit)
        traced = raw["traced_pass_s"]
        metrics["trace.overhead"] = (
            statistics.median(traced) / statistics.median(passes) if traced and passes else 0.0,
            "ratio")
        log("traced passes=%d spans=%s" % (len(layers), os.path.join(work, "spans.json")))
    # keep raw.json, jvm.log and spans.json; drop the bulky rest
    for d in ("out", "tmp", "checkpoints", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    result = {
        "correct": failed == 0 and not check_fail,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
