#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's `src/main/scala` and the
harness in `perfbench/src` with the Scala compiler that ships in the Spark
jars directory named by the repo's `build.sbt` (`unmanagedBase`).

    python3 perfbench/build.py            # prints the runtime classpath

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the repo
root, keyed by a hash of every source file, so an unchanged tree is not
rebuilt.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise SystemExit("perfbench: no build.sbt next to perfbench/ - not a checkout of the repo")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    return jars


def sources(sub):
    out = []
    for dirpath, _, files in os.walk(os.path.join(ROOT, sub)):
        out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def scalac(jars, cp, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if cp:
        cmd += ["-classpath", os.pathsep.join(cp)]
    r = subprocess.run(cmd + files, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed ({r.returncode})")


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def build():
    """Compile what changed; return the runtime classpath. Earlier builds
    stay, so checkouts that share the build directory do not rebuild or
    delete each other's classes."""
    jars = spark_jars()
    main, bench = sources("src/main"), sources("perfbench/src")
    if not main:
        raise SystemExit("perfbench: no src/main sources - not a checkout of the repo")
    main_key = "main-" + digest(main)
    bench_key = "bench-" + digest(bench + [os.path.abspath(__file__)], main_key)
    base = build_dir()
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for key, files, cp in ((main_key, main, []), (bench_key, bench, [os.path.join(base, main_key)])):
            out = os.path.join(base, key)
            if not os.path.isfile(os.path.join(out, ".ok")):
                print(f"perfbench: compiling {len(files)} sources into {key}", file=sys.stderr)
                shutil.rmtree(out, ignore_errors=True)
                scalac(jars, cp, out, files)
                open(os.path.join(out, ".ok"), "w").close()
    cp = [os.path.join(base, main_key), os.path.join(base, bench_key), os.path.join(jars, "*")]
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build()))
