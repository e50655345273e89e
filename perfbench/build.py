"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the harness (perfbench/scala) into one class directory.

The output lives under .bench_build/ in the checkout, keyed by a hash of
every compiled source, so a checkout builds once and later runs reuse it.
Run directly to build without running a workload:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")

# Same JVM flags as the project's build.sbt javaOptions and
# tools/bench_direct.sh, so numbers are comparable with the in-repo bench.
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
JVM_FLAGS = [a for p in ADD_OPENS for a in ("--add-opens", p)] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=1g",
    # without it the JVM writes a perf-data file to the system temp
    # directory; a run writes nothing outside the checkout
    "-XX:-UsePerfData",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the project's
    build.sbt `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    found = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    if not found:
        raise BuildError("no Scala sources found")
    return found


def _hash(files):
    """sha256 over each regular file's repo-relative path and content."""
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h


def tree_hash():
    """Content hash of everything the benchmark builds and runs."""
    files = sources() + sorted(glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True))
    files += sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
    return _hash(files).hexdigest()


def build():
    """Compile if needed; returns (runtime classpath, whether it compiled)."""
    srcs = sources()
    jars = spark_jars()
    key = _hash(srcs)
    key.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD_DIR, "classes-" + key.hexdigest()[:16])
    compiled = not os.path.exists(os.path.join(out, ".complete"))
    if compiled:
        os.makedirs(out, exist_ok=True)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               # an explicit classpath: the default "." would make
               # perfbench/scala look like a package named perfbench.scala
               "-classpath", out, "-d", out, "@" + argfile]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=900)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        open(os.path.join(out, ".complete"), "w").close()
    return os.pathsep.join([out, ENGINE_RES, os.path.join(jars, "*")]), compiled


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
