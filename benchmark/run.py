#!/usr/bin/env python3
"""Run one workload of the end-to-end benchmark and print its metrics.

    python3 benchmark/run.py --workload {inventory,serve,maintain} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run compiles the library
sources together with the benchmark (sbt, offline) into `.bench_build/`;
later runs reuse that build while the sources are unchanged. Each run
starts one JVM with Spark in local mode on every core, sets up the
workload from the seed (at least three times; the median is `setup_s`),
measures a closed loop for S seconds, checks the outputs and prints one
JSON line last: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` the run records spans and Spark counters around each layer
call and prints the per-layer ones (see summarize.py). Exits non-zero
if set-up fails, if an output check fails, or if the library sources
are not there.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the source tree
import summarize  # noqa: E402

WORKLOADS = ("inventory", "serve", "maintain")
HEAP = "2g"
RUN_LIMIT_S = 170           # the whole run, build excluded
BUILD_LIMIT_S = 840
# Start once the 1-minute load is below this x nproc, or after IDLE_WAIT_S
# stamped contended. A run leaves the load near nproc behind it, so only a
# load above that means someone else is using the box.
IDLE_LOAD_PER_CPU = 1.25
IDLE_WAIT_S = 10
STEAL_CONTENDED = 0.05      # a run that lost more CPU than this is contended too

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution: set SPARK_HOME")
    return home


def build(build_dir, env):
    """Compile (when the sources changed) and return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"library sources not found under {ROOT}/src/main/scala")
    stamp = digest(source_files())
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "sbt", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building library + benchmark (sbt) ...")
    t0 = time.time()
    log_path = os.path.join(build_dir, "build.log")
    # temporary files stay inside the checkout; sbt's own caches (the
    # offline dependency cache and its global base) are the toolchain's
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           f"-Dbench.target={os.path.join(build_dir, 'sbt')}", "writeClasspath"]
    with open(log_path, "w") as out:
        code = run_child(cmd, HERE, dict(env, TMPDIR=tmp), out, BUILD_LIMIT_S)
    if code != 0 or not os.path.exists(cp_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed (exit {code}); log in {log_path}")
    log(f"build done in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), stamp


def run_child(cmd, cwd, env, out, limit):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {limit} s; stopping it")
        os.killpg(p.pid, signal.SIGTERM)
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def wait_for_idle(ncpu):
    """Start conditions: wait (bounded) for the 1-minute load to fall."""
    limit = IDLE_LOAD_PER_CPU * ncpu
    t0 = time.time()
    load = os.getloadavg()[0]
    while load >= limit and time.time() - t0 < IDLE_WAIT_S:
        time.sleep(1)
        load = os.getloadavg()[0]
    return {"load_at_start": round(load, 2), "load_limit": limit,
            "waited_s": round(time.time() - t0, 1), "contended": load >= limit}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return (fields[7] if len(fields) > 7 else 0), sum(fields)
    except (OSError, ValueError):
        return 0, 0


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build_dir = os.path.join(ROOT, ".bench_build")
    classpath, stamp = build(build_dir, env)

    ncpu = os.cpu_count() or 1
    cond = wait_for_idle(ncpu)
    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "emibench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", result_path, "--cpus", str(ncpu)]
    jvm_log = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    t0 = time.time()
    with open(jvm_log, "w") as out:
        code = run_child(cmd, work, env, out, RUN_LIMIT_S)
    cond["load_at_end"] = round(os.getloadavg()[0], 2)
    # CPU time the hypervisor gave to other guests while this run ran: a
    # slow run with high steal is box contention, not a plan regression
    steal1, total1 = cpu_ticks()
    cond["steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    cond["contended"] = cond["contended"] or cond["steal_frac"] > STEAL_CONTENDED
    cond.update({"nproc": ncpu, "heap": HEAP, "commit": commit(),
                 "source_digest": stamp[:16], "run_s": round(time.time() - t0, 1)})
    with open(jvm_log) as f:
        lines = f.readlines()
    for line in lines:
        if line.startswith("[bench]"):
            sys.stderr.write(line)
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write("".join(lines[-60:]))
        die(f"benchmark JVM failed (exit {code})")
    with open(result_path) as f:
        res = json.load(f)

    if a.trace:
        spans, jobs = summarize.load(os.path.join(work, "trace.jsonl"))
        values = summarize.per_layer(a.workload, spans, jobs, res)
    else:
        values = res["metrics"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or v["value"] is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}

    # keep the record of the run; drop its scratch data
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    res["conditions"] = cond
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(res, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(results, tag + ".trace.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print("[bench] conditions " + json.dumps(cond))
    print("[bench] inputs " + json.dumps(res["inputs"]))
    for c in res["checks"]:
        print(f"[bench] check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for name, v in res["figures"].items():
        print(f"[bench] {a.workload} {name} = {v['value']} {v['unit']}")
    if a.trace:
        for name, v in values.items():
            print(f"[bench] layer {name} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    if not res["correct"]:
        die("an output check failed", 1)


if __name__ == "__main__":
    main()
