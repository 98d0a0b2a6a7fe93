"""Build step of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler shipped in Spark's jars.

The output directory is keyed by a hash of every source file, so a checkout
compiles once and later runs reuse the classes. Nothing is written outside
the checkout's build directory.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    """Build outputs go to $CARGO_TARGET_DIR when set (the build-output
    directory the caller designates), else `.bench_build`; relative paths
    are taken from the checkout root."""
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the engine's own build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                     recursive=True))


def classpath_jars(jars_dir):
    return sorted(glob.glob(os.path.join(jars_dir, "*.jar")))


def build():
    """Compile if needed; returns the classes directory."""
    jars_dir = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for stale in glob.glob(os.path.join(build_dir(), "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp-%d" % os.getpid()
    os.makedirs(tmp)
    cp = os.pathsep.join(classpath_jars(jars_dir))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars_dir, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    print("perfbench: compiling %d sources" % len(srcs), flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
