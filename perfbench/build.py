"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into <build dir>/classes.

The build dir is $CARGO_TARGET_DIR when set, else .bench_build, relative to
the root of the checkout. A stamp of the sources' content skips the compile
when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jars the repo's own build compiles against: $SPARK_HOME/jars,
    else the unmanagedBase that build.sbt declares."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles when the sources changed; returns the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("build: compile failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
    sys.exit(0)
