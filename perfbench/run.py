#!/usr/bin/env python3
"""Build and run the triplspark benchmark.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call compiles the program
(src/main/scala) together with the benchmark code through the
benchmark's own sbt build (perfbench/build.sbt); later calls reuse the
classes while no source file has changed and start the JVM directly.
Everything the run writes goes under .bench_build/perfbench/ in the
repository root. The last stdout line is the result record; the
detail record (every metric, the input digest and sizes) precedes it and
is also written to .bench_build/perfbench/result-<workload>-<seed>-<trace>.json.

Environment: SPARK_HOME (Spark installation), SPARK_GRAFT_CPUS (local
cores, default: all), SPARK_DRIVER_MEM (heap, default 4g).
"""
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")

# Spark 4 on JDK 17 needs these outside spark-submit (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    """Digest of every input of the build; a change forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            sys.exit(f"perfbench: missing build input {os.path.relpath(r, ROOT)}")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    os.makedirs(WORK, exist_ok=True)
    # the build resolves only from local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's output goes to stderr: stdout carries only the result records
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "4g"),
            "-Djava.io.tmpdir=" + tmp, "-Dperfbench.work=" + WORK,
            "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"] + sys.argv[1:]
    # Spark's scratch space stays inside the run directory (see Main)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    sys.exit(subprocess.run(cmd, cwd=ROOT, env=env).returncode)


if __name__ == "__main__":
    main()
