#!/usr/bin/env python3
"""The repo benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <retail|operators|snapshots> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source with sbt (once per source
state; the classpath is cached under perfbench/.state), generates the
workload's inputs from the seed, runs the harness JVM (local[n] on every
core it may use, one closed-loop client), checks every output against the
generator's oracle or the committed expectations (perfbench/expected.json),
and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the full span tree goes to perfbench/.results/.
Everything a run writes lives under perfbench/; the per-run scratch
directory (java.io.tmpdir and spark.local.dir included) is deleted at exit.
See perfbench/README.md for every metric.
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
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(HERE, ".state")
RUNS = os.path.join(HERE, ".runs")
RESULTS = os.path.join(HERE, ".results")
sys.path.insert(0, HERE)

import analyse  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("retail", "operators", "snapshots")
RETAIL_ROWS = 10000
RETAIL_DAYS = 3
RETAIL_WARM_ROWS = 500
TABLES_SF = 0.001
JVM_TIMEOUT_S = 170
# The pass is a fixed amount of work, about --seconds long on 4 cores; it
# stops starting operations after PASS_CAP_FACTOR x --seconds (the rest
# count as failed), which keeps a slow commit inside the time limit.
PASS_CAP_FACTOR = 4
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (as the engine's build sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project"), HARNESS]
    for top in roots:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, names in os.walk(top):
                # skip build output: target/ and sbt's project/project/
                dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp")
                                 and not (x == "project" and os.path.basename(d) == "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile engine + harness with sbt unless the cached build matches
    the sources; returns the harness runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(STATE, "stamp")
    cp_file = os.path.join(STATE, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness with sbt ...")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(STATE, "build.log"), errors="replace") as f:
        lines = f.read().splitlines()
    if proc.returncode != 0:
        raise RuntimeError("sbt build failed:\n" + "\n".join(lines[-30:]))
    cps = [l.strip() for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        raise RuntimeError("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cps[-1]


def generate(workload, seed, data):
    """Inputs of one run; returns what the checks need."""
    if workload == "retail":
        oracle = gen.write_retail(os.path.join(data, "days"), seed, RETAIL_ROWS,
                                  days=RETAIL_DAYS)
        warm = gen.write_retail(os.path.join(data, "warm"), seed + 1,
                                RETAIL_WARM_ROWS, days=1)
        for name, o in (("days", oracle), ("warm", warm)):
            with open(os.path.join(data, f"{name}.tsv"), "w") as f:
                for d in o["days"]:
                    f.write(f"{d['day']}\t{d['as_of']}\t{d['csv']}\t"
                            f"{d['rows']}\t{d['bytes']}\n")
        return oracle
    gen.write_catalog_tables(data, TABLES_SF)
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)[workload]


def cpu_jiffies():
    """(steal, total) CPU time of the machine since boot, in jiffies, or
    None where /proc/stat is missing. Steal is time the hypervisor gave
    this VM's CPUs to other guests: it slows a run without any change in
    the code, so every result records its share."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, workload, seed, trace, seconds, data, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--trace", str(trace), "--data", data,
            "--work", work, "--out", out, "--pass-cap-s", str(PASS_CAP_FACTOR * seconds)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read().splitlines()[-40:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n" + "\n".join(tail))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        log("no engine sources next to perfbench/ (build.sbt, src/main): nothing to run")
        return 2
    try:
        cp = ensure_build()
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 3

    work = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        oracle = generate(a.workload, a.seed, data)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        launch_ms = time.time() * 1000.0
        cpu0 = cpu_jiffies()
        run_jvm(cp, a.workload, a.seed, a.trace, a.seconds, data, work, out)
        cpu1 = cpu_jiffies()
        with open(out) as f:
            res = json.load(f)
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            res["env"]["cpu_steal_share"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        res["gen_s"] = gen_s
        res["launch_ms"] = launch_ms
        if a.workload == "retail":
            res["warehouse_bytes"] = analyse.dir_bytes(res["result"]["warehouse"])
        report = analyse.report(res, oracle)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"run failed: {e}")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)

    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"report": report, "raw": res}, f)
    for line in analyse.summary_lines(report, RESULTS, a.workload, a.seed, a.trace):
        print(line)
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": report["trace_metrics" if a.trace else "metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
