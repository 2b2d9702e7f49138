#!/usr/bin/env python3
"""Dedup benchmark entry point.

Usage (from the repository root):

    python3 dedupbench/run.py --workload chains_ckpt|queries \
        --seed N --seconds S --trace 0|1 [--smoke]

Builds the program under test together with the benchmark harness from
source (sbt, offline; skipped while the sources are unchanged), fits the run
to the host (local[nproc], heap sized from MemTotal), runs one workload in
one JVM and prints its result object as the last stdout line. Extra flags
(`--smoke`, `--record`) are passed to the harness.
"""
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
BUILD = os.path.join(STATE, "build")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run in a checkout builds

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=1):
    print(f"dedupbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(sha):
    """Compile program + harness; cache the runtime classpath per source sha."""
    cp_file = os.path.join(BUILD, "classpath")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == sha:
        return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    # offline resolution, as the repository's own build runs
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        die(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(sha)
    return cp, True


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def mem_total_kb():
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 4 * 1024 * 1024


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        return ""


def main(argv):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("program sources (src/main/scala next to this directory) not found")
    if "--workload" not in argv:
        die("--workload is required")
    t_start = time.time()
    sha = source_sha()
    cp, built = build(sha)
    t_run = time.time()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = mem_total_kb()
    # an eighth of the host's memory, between 1 and 2 GiB (the workloads
    # peak well below 2 GiB of heap), committed up front: a heap that grows
    # on demand adds collections whose number depends on when it grows, and
    # the CPU figures with them
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 8))
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    cmd = [java_bin(), f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:+UseG1GC",
           # compiler threads that never exit, so their CPU can be told apart
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dgraftbench.memTotalKb={mem_kb}",
           f"-Dgraftbench.gitCommit={git_commit()}",
           f"-Dgraftbench.sourceSha={sha}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--bench-dir", HERE, "--state", STATE,
            "--cores", str(cores)] + argv
    # the run's own limit starts after a build (the first run may build)
    budget = RUN_LIMIT_S - (time.time() - (t_run if built else t_start))
    proc = subprocess.Popen(cmd, cwd=STATE, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run exceeded {budget:.0f}s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        die(f"harness exited {proc.returncode} without a result", 4)
    print(lines[-1])
    sys.stdout.flush()


if __name__ == "__main__":
    main(sys.argv[1:])
