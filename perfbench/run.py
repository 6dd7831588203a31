#!/usr/bin/env python3
"""Layered benchmark of the Last.fm pipeline engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 10 --trace 0

Workloads: daily_load, bi_reads (perfbench/README.md).
The script builds the checkout (sbt, offline), generates the workload's
inputs from the seed, runs the measuring JVM (perfbench.Main), checks
every output against DuckDB outside the timed region, writes a record
to perfbench/results/, and prints one JSON line as the last line of
stdout. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the per-layer ones from a traced run.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen_charts  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("daily_load", "bi_reads")
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
JVM_TIMEOUT_S = 165
SBT_TIMEOUT_S = 840
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

CHART_COUNTRIES = 50
BI_DAYS = 2


def chart_days(workload, seconds):
    """Days of charts to generate. daily_load lands all of them, the first
    as set-up; its timed days are a fixed amount of work set by --seconds
    (about 5 s each, at least 2), never by how fast the machine is, so
    every run lands the same days. bi_reads loads two before its reads.
    """
    if workload == "daily_load":
        return 1 + max(2, round(seconds / 5))
    return BI_DAYS


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/Pipeline.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a checkout of the program: {need} is missing")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"])
    log("building (sbt) ...")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=SBT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- environment ----------------------------------------------------------

def cpu_jiffies():
    """(busy, steal) jiffies over all CPUs from /proc/stat; busy excludes
    idle, iowait and the time the hypervisor gave to other guests.
    """
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]) - v[3] - v[4] - v[7], v[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def jvm_heap():
    """The test suite's sizing: half of RAM in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


# ---- run ------------------------------------------------------------------

def launch(cp, args, work):
    heap = jvm_heap()
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    logf = open(f"{work}/jvm.log", "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        logf.close()
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"measuring JVM failed (exit {rc})", 1)
    return heap


def quartiles(xs):
    """Q1, median and Q3 as `statistics.quantiles(xs, n=4)` gives them, the
    definition the spread of a metric across runs is judged by.
    """
    if len(xs) < 2:
        return {"q1": xs[0], "median": xs[0], "q3": xs[0], "n": len(xs)}
    q = statistics.quantiles(xs, n=4)
    return {"q1": q[0], "median": q[1], "q3": q[2], "n": len(xs)}


def percentile(xs, p):
    s = sorted(xs)
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    declared()
    cp = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "input")
        gen_charts.generate(a.seed, chart_days(a.workload, a.seconds),
                            CHART_COUNTRIES, os.path.join(inputs, "landing"))
        if a.workload == "bi_reads":
            gen_tables.generate(a.seed, os.path.join(inputs, "tables"))
        out = os.path.join(work, "result.json")
        load0 = loadavg()
        busy0, steal0 = cpu_jiffies()
        own0 = resource.getrusage(resource.RUSAGE_CHILDREN)
        t0 = time.time()
        heap = launch(cp, [a.workload, str(a.seed), str(a.seconds),
                           str(a.trace), inputs, work, out], work)
        wall = time.time() - t0
        busy1, steal1 = cpu_jiffies()
        own1 = resource.getrusage(resource.RUSAGE_CHILDREN)
        hz = os.sysconf("SC_CLK_TCK")
        own_cpu = (own1.ru_utime + own1.ru_stime) - (own0.ru_utime + own0.ru_stime)
        r = json.load(open(out))
        verdict = checks.check(a.workload, r, inputs)
        record, line = summarize(a, r, verdict)
        record["env"] = {
            "nproc": os.cpu_count(), "loadavg_start": load0,
            "other_cpu_s": max(0.0, (busy1 - busy0) / hz - own_cpu),
            "steal_s": (steal1 - steal0) / hz,
            "jvm_wall_s": wall, "jvm_cpu_s": own_cpu, "heap": heap,
            "cores_used": r.get("cores"), "seed": a.seed,
            "git_commit": git_commit()}
        os.makedirs(RESULTS, exist_ok=True)
        name = f"{a.workload}-trace{a.trace}-seed{a.seed}-{int(t0)}.json"
        with open(os.path.join(RESULTS, name), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


def declared():
    """Metric names and units from BENCHMARK.json at the checkout root."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json is missing")
    b = json.load(open(path))
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def summarize(a, r, verdict):
    """(full record, result line) from the JVM's raw numbers and the checks."""
    ops = [o["s"] for o in r["ops"]]
    attempted = r["attempted"]
    failed = min(verdict["failed_ops"], attempted)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "checks": verdict, "attempted": attempted,
              "failed": failed, "op_quartiles_s": quartiles(ops),
              "setup_wall_s": r["setup_wall_s"], "session_s": r["session_s"],
              "timed_wall_s": r["timed_wall_s"], "ops": r["ops"]}
    end_to_end, per_layer = declared()
    if a.trace:
        unknown = set(r["layers"]) - set(per_layer)
        if unknown:
            die(f"undeclared per-layer metrics: {sorted(unknown)}", 1)
        # a layer the workload does not call did no work
        metrics = {k: {"value": r["layers"].get(k, 0.0), "unit": u}
                   for k, u in per_layer.items()}
        record["spans"] = r.get("spans")
        record["traced_s"] = r.get("traced_s")
        record["untraced_s"] = r.get("untraced_s")
    else:
        values = {
            "setup_s": r["session_s"] + r["setup_wall_s"],
            "op_p50_s": percentile(ops, 0.5),
            "op_p75_s": percentile(ops, 0.75),
            "ops_per_s": len(ops) / r["timed_wall_s"],
            "live_heap_mb": r["live_heap_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in end_to_end.items()}
    record["metrics"] = metrics
    line = {"correct": verdict["correct"], "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return record, line


if __name__ == "__main__":
    main()
