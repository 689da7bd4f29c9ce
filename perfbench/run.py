#!/usr/bin/env python3
"""Run one workload of the pipeline benchmark and print its result.

    python3 perfbench/run.py --workload mirror_stream --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the library and the
benchmark harness with sbt (offline, against the Spark jars the library
compiles against) and caches the resulting classpath under
.bench_build/, keyed by a hash of every source and build file; later
runs start the harness JVM directly. The last line of standard output
is the result: one JSON object with `correct`, `attempted`, `failed`
and `metrics`. Everything else goes to standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("mirror_stream", "cdc_bootstrap", "control_rest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit (the library's build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads from this checkout, sorted."""
    picked = []
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        top = os.path.join(ROOT, base)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            picked += [os.path.join(d, f) for f in files
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    picked += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return sorted(picked)


def classpath():
    """Build once per source state; return the harness classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no library sources next to perfbench/ (run from a full checkout)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cp = fh.read().strip()
        main = os.path.join(cp.split(":")[0], "graft", "perfbench", "Main.class")
        if os.path.isfile(main):
            return cp
    # every stamp names the same build outputs: keep only the newest
    if os.path.isdir(BUILD):
        for old in os.listdir(BUILD):
            if old.startswith("classpath-"):
                os.remove(os.path.join(BUILD, old))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as fh:
        cps = [l.strip() for l in fh if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed; see {log}")
    with open(stamp, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}")
    print(json.dumps(result(json.loads(lines[-1]), a.trace)))


def result(measured, trace):
    """The result line: the metrics BENCHMARK.json names for this mode,
    with their units. Every one must have been measured; a workload
    reports the layers it bypasses as 0 itself."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    values = {m["name"]: measured["metrics"].get(m["name"]) for m in spec}
    missing = [n for n, v in values.items() if v is None]
    if missing:
        fail("unmeasured metrics: " + ", ".join(missing))
    return {"correct": measured["failed"] == 0,
            "attempted": measured["attempted"], "failed": measured["failed"],
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in spec}}


if __name__ == "__main__":
    main()
