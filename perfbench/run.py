#!/usr/bin/env python3
"""graft's benchmark: one workload per run, one JSON result line on stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_wide, ingest_many_types, query_suite (see BENCHMARK.json
and perfbench/NOTES.md). The first run in a checkout compiles graft's main
sources together with the benchmark (sbt, offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run
starts one JVM, writes everything under perfbench/work, and prints the
result as the last line of stdout. Progress and Spark's logs go to stderr.

Maintenance: `--record DIR` runs the query subset once and writes its
results (for tools/check.py) and content hashes under DIR.
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
WORK = os.path.join(HERE, "work")
STAMP = os.path.join(HERE, "target", "perfbench-build.json")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("ingest_wide", "ingest_many_types", "query_suite")
RUN_LIMIT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not cp:
        sys.exit("perfbench: build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cp[-1].strip()}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def run_jvm(classpath, main, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    # a fixed heap: the full GC forced before each measured window made G1
    # shrink the heap and then grow it again inside the window
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xlog:gc:file={os.path.join(WORK, 'gc.log')}",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
    # scratch space inside the work directory too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_LIMIT_S} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="DIR")
    a = ap.parse_args()
    if not (a.workload or a.record):
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: graft's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isdir(DATA):
        sys.exit(f"perfbench: the query tables ({os.path.relpath(DATA, ROOT)}) are missing")
    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    if a.record:
        out = os.path.abspath(a.record)
        sys.exit(run_jvm(classpath, "graft.perfbench.Record", [DATA, out]))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--data", DATA,
            "--launch-ms", str(int(time.time() * 1000))]
    code = run_jvm(classpath, "graft.perfbench.Main", args)
    result = os.path.join(WORK, "result.json")
    if code != 0 or not os.path.exists(result):
        sys.exit(f"perfbench: {a.workload} run failed (JVM exit {code})")
    with open(result) as fh:
        line = fh.read().strip()
    json.loads(line)
    print(line, flush=True)


if __name__ == "__main__":
    main()
