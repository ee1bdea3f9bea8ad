#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. The first run builds the engine and
the benchmark from source with sbt (offline) and, for the `suite` workload,
generates the suite's tables; both are cached under `.bench_build/`. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exit code 0 means every output check passed. See perfbench/README.md.
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

T0 = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("warehouse", "suite")
# one run, its set-up included, must end well inside three minutes; a run
# that first builds gets fifteen
RUN_DEADLINE_S = 170.0
BUILD_DEADLINE_S = 880.0

# Spark on JDK 17 outside spark-submit (same list as the engine's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, deadline_s, env=None, capture=True):
    """Run `cmd` in its own process group; kill the group at the deadline."""
    proc = subprocess.Popen(
        cmd, cwd=cwd, env=env, start_new_session=True,
        stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(f"timed out after {deadline_s:.0f}s: {cmd[0]}", 3)
    finally:
        # nothing the command started may outlive it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return proc.returncode, out


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + benchmark once per source state; return classpath
    and whether this call built it.

    sbt compiles into the shared `target/` directories, which the next
    build of other sources overwrites. So the compiled classes are copied
    to `.bench_build/classes-<stamp>/` and the cached classpath names that
    copy: a cached classpath always runs the classes of its own sources."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           "export perfbench/Runtime/fullClasspath"]
    code, out = run_bounded(cmd, BENCH, BUILD_DEADLINE_S - (time.monotonic() - T0), env)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 4)
    classes = os.path.join(BUILD, f"classes-{stamp}")
    shutil.rmtree(classes, ignore_errors=True)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            copy = os.path.join(classes, str(i))
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    classpath = os.pathsep.join(entries)
    # the classpath file is the cache entry: write it only once complete
    with open(cp_file + ".tmp", "w") as f:
        f.write(classpath)
    os.replace(cp_file + ".tmp", cp_file)
    return classpath, True


def suite_data():
    """The suite's fixed table set, generated once per generator version."""
    script = os.path.join(BENCH, "suite_data.py")
    with open(script, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(BUILD, f"suite-data-{tag}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        code, _ = run_bounded([sys.executable, script, out], ROOT,
                              BUILD_DEADLINE_S - (time.monotonic() - T0), capture=False)
        if code != 0:
            die("suite table generation failed", 4)
    return out


def java_cmd(classpath, work):
    """`java` with the engine's JVM options; temp files stay under `work`."""
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("no engine sources here: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    classpath, built = build()
    data = suite_data() if a.workload == "suite" else ""
    # a run that built first may take the build's deadline
    deadline = (BUILD_DEADLINE_S if built else RUN_DEADLINE_S) - (time.monotonic() - T0)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, work) + ["perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--data", data]
    try:
        code, out = run_bounded(cmd, ROOT, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None or not isinstance(result, dict) or "metrics" not in result:
        die(f"no result line (exit {code})", 5)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    if code != 0 or not result.get("correct"):
        die("output check failed", 1)


if __name__ == "__main__":
    main()
