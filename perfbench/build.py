"""Build file of the benchmark: compiles the program's sources
(src/main/scala, src/main/resources) together with the harness
(perfbench/harness) into .bench_build/classes, with the Scala compiler that
ships in Spark's jars. A build whose sources are unchanged is reused.

Usage: python3 perfbench/build.py    (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SOURCES = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "harness")]
RESOURCES = os.path.join("src", "main", "resources")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jars the program is built against: the `unmanagedBase` that
    build.sbt names, else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("build: no Spark jars (build.sbt unmanagedBase or SPARK_HOME)")
    return os.path.join(home, "jars")


def _files(top, suffix):
    out = []
    for d, _, fs in os.walk(os.path.join(ROOT, top)):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def classpath():
    """Compiled classes and resources, then Spark's jars."""
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    sources = [f for top in SOURCES for f in _files(top, ".scala")]
    resources = _files(RESOURCES, "")
    if not any(f.startswith(os.path.join(ROOT, SOURCES[0])) for f in sources):
        sys.exit("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    args = os.path.join(build_dir(), "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", jars, "-d", tmp, "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed ({r.returncode})")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, os.path.join(ROOT, RESOURCES)))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    os.makedirs(build_dir(), exist_ok=True)
    build()
