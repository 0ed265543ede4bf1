#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload wco-local --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is the result JSON;
everything the run writes goes under .bench_build/perfbench/. See
perfbench/README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("stream-b1000", "wco-local", "sharded-bulk")
# a run must end within 180 s of its start; the build has its own budget
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "4g"

# what the engine and the benchmark are built from; a change to any of them
# rebuilds before the next run
SOURCES = [("build.sbt", ""), ("project", ".properties"), ("src/main", ""),
           ("perfbench/build.sbt", ""), ("perfbench/project", ".properties"),
           ("perfbench/src", "")]

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_digest():
    h = hashlib.sha256()
    for rel, suffix in SOURCES:
        top = os.path.join(ROOT, rel)
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
                           if f.endswith(suffix) and "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        # the toolchain's pre-warmed offline repositories, as the engine's own build uses
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos,
                "-Dsbt.offline=true"]
    return cmd + ["compile", "export Runtime/fullClasspath"]


def build(digest):
    """Returns the runtime classpath, compiling first when the sources changed."""
    stamp = os.path.join(OUT, "classpath.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    log_path = os.path.join(OUT, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log_path, "w") as log:
        rc = run_bounded(sbt_command(), cwd=HERE, env=env, limit=BUILD_LIMIT_S,
                         stdout=log, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        out = f.read().splitlines()
    cps = [l for l in out if "perfbench" in l and l.count(os.pathsep) > 10 and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(out[-40:]) + "\nperfbench: build failed (rc=%s)\n" % rc)
        sys.exit(2)
    with open(stamp + ".tmp", "w") as f:
        f.write(digest + "\n" + cps[-1] + "\n")
    os.replace(stamp + ".tmp", stamp)
    return cps[-1]


def run_bounded(cmd, cwd, env, limit, stdout=None, stderr=None):
    """Runs cmd in its own process group; kills the group after `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.stderr.write("perfbench: %s timed out after %d s\n" % (cmd[0], limit))
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return ""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.stderr.write("perfbench: %s not found; run from a full checkout\n" % need)
            return 2
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    digest = source_digest()
    classpath = build(digest)
    start = time.time()
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", OUT,
              "--commit", git_commit() or "none", "--source-digest", digest[:16]])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "spark-local"))
    rc = run_bounded(cmd, cwd=ROOT, env=env, limit=max(10, RUN_LIMIT_S - (time.time() - start)))
    return 0 if rc == 0 else (rc if rc > 0 else 3)


if __name__ == "__main__":
    sys.exit(main())
