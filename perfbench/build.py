"""Build file of the benchmark: compiles the engine's main sources together
with the harness into `.bench_build/classes`, calling the Scala compiler
that ships among the Spark jars directly (no sbt, no zinc).

The Spark jar directory is the one the engine's own build declares
(`unmanagedBase` in build.sbt). A stamp over every source file, the jar
listing and the compiler command skips the build when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars(root):
    if not os.path.exists(os.path.join(root, "build.sbt")):
        raise SystemExit("no build.sbt here: run from the repository root")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("no engine sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def build(root="."):
    """Compiles if needed; returns the classpath for running the harness and
    the source stamp, which names the code the classes were built from."""
    jars = spark_jars(root)
    jar_cp = os.path.join(jars, "*")
    srcs = sources(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jar_cp]
    h = hashlib.sha256(" ".join(cmd).encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if not (os.path.isdir(out) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        r = subprocess.run(cmd + ["-d", tmp] + srcs, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"compile failed (exit {r.returncode})")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.path.abspath(out) + os.pathsep + jar_cp, stamp
