"""Build file of the pipeline benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources into .bench_build/ at the repository root, with the Scala compiler
and Spark jars from the directory the program's build.sbt takes its jars
from (unmanagedBase), or from $SPARK_HOME/jars when that is set. A stamp
over every source file makes a rebuild of unchanged sources a no-op.

    python3 pipebench/build.py          # main classes
    python3 pipebench/build.py --test   # main + spec classes
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
OUT = os.path.join(ROOT, ".bench_build")


def sbt_setting(pattern):
    """The first group of `pattern` in the program's build.sbt, or None."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(pattern, open(sbt).read())
    return m.group(1) if m else None


def scala_version():
    v = sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"')
    if not v:
        raise SystemExit("pipebench: build.sbt names no scalaVersion")
    return v


def jars_dir():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    d = sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    if not d:
        raise SystemExit("pipebench: build.sbt names no unmanagedBase; set SPARK_HOME")
    return d


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"pipebench: no Spark jars under {jars_dir()}")
    return jars


def sources(test):
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    if test:
        roots.append(os.path.join(HERE, "src", "test", "scala"))
    files = []
    for r in roots:
        found = sorted(glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
        if not found:
            raise SystemExit(f"pipebench: no Scala sources under {r}")
        files += found
    return files


def build(test=False, timeout=600):
    """Compiles if any source changed; returns the classes directory."""
    files = sources(test)
    version = scala_version()
    h = hashlib.sha256(version.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    name = "test-classes" if test else "classes"
    classes = os.path.join(OUT, name)
    stamp_file = classes + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(OUT, exist_ok=True)
    staging = classes + ".building"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jars = spark_classpath()
    compiler = [os.path.join(jars_dir(), f"scala-{m}-{version}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"pipebench: no Scala {version} compiler jars: {missing}")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", staging,
           "-cp", os.pathsep.join(jars)] + files
    print(f"# building {len(files)} Scala files into {os.path.relpath(classes, ROOT)}",
          file=sys.stderr, flush=True)
    try:
        subprocess.run(cmd, check=True, timeout=timeout, stdout=sys.stderr)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired):
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit("pipebench: build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(test="--test" in sys.argv[1:]))
