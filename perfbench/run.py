#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload <mr_corpus|text_index|relational> \
        --seed <n> --seconds <s> --trace <0|1> [--corrupt]

The first call in a checkout builds the engine and the harness with sbt
(offline) and writes the query workloads' tables; later calls reuse both.
Each run is one fresh JVM with its own temporary root (Spark local dir,
artifact cache, java.io.tmpdir, MapReduce corpus and outputs), deleted
when the run ends. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
every job ran and every output check passed. `--corrupt` damages one output
before the check, to show that the check catches it.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
TABLES = os.path.join(WORK, "tables-sf0.1")
PINS = os.path.join(HERE, "pins.tsv")
WORKLOADS = ("mr_corpus", "text_index", "relational")
RUN_TIMEOUT_S = 175

# Fixed JVM settings of every benchmark JVM (recorded in each result).
JVM_FLAGS = ["-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for dirpath, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile engine + harness when any source is newer than the last build."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "project", "build.properties")]
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=480)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def java(cp, args, cwd, env, timeout):
    """Run one JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={cwd}/tmp", "-cp", cp]
                            + args, cwd=cwd, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"JVM exceeded {timeout:.0f} s")


def scratch_env(root):
    for d in ("tmp", "local", "cache"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "local"),
                SPARK_GRAFT_INDEX_CACHE=os.path.join(root, "cache"))


def tables(cp):
    """Write the query workloads' tables once per checkout."""
    if os.path.isfile(os.path.join(TABLES, "_DONE")):
        return
    log("writing the sf0.1 tables")
    tmp = TABLES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        if java(cp, ["graft.perfbench.Main", "gen-tables", os.path.join(tmp, "data")],
                tmp, scratch_env(tmp), 200) != 0:
            raise SystemExit("table generation failed")
        shutil.rmtree(TABLES, ignore_errors=True)
        os.rename(os.path.join(tmp, "data"), TABLES)
        open(os.path.join(TABLES, "_DONE"), "w").close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def host_snapshot():
    """Load average and java process count. Recorded, never acted on."""
    try:
        load = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        load = -1.0
    javas = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            cmd = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")[0]
        except OSError:
            continue
        javas += os.path.basename(cmd) == b"java"
    return {"load_avg_1m": load, "java_procs": javas}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no engine sources next to perfbench/: run from a full checkout")

    cp = build()
    if a.workload != "mr_corpus":
        tables(cp)
    run_root = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    result = os.path.join(run_root, "result.json")
    trace_file = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    host_start = host_snapshot()
    t0 = time.monotonic()
    try:
        args = ["graft.perfbench.Main", "run", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
                "--data", TABLES, "--work", run_root, "--pins", PINS,
                "--result", result, "--trace-file", trace_file]
        args += ["--corrupt"] if a.corrupt else []
        code = java(cp, args, run_root, scratch_env(run_root), RUN_TIMEOUT_S)
        if code != 0 or not os.path.isfile(result):
            raise SystemExit(f"benchmark JVM exited with {code}")
        res = json.load(open(result))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    info = res["info"]
    info.update(host_start=host_start, host_end=host_snapshot(),
                run_wall_s=time.monotonic() - t0, jvm_flags=" ".join(JVM_FLAGS[:3]))
    for k, v in info.items():
        print(f"  {k:28s} {json.dumps(v)}")
    for e in res["errors"]:
        print(f"  ERROR {e}")
    for k, m in res["metrics"].items():
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
