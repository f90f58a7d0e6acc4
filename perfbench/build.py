"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's JVM driver (perfbench/src) with the Scala 2.13 compiler that
ships among the Spark distribution's jars into
.bench_build/perfbench/perfbench.jar, then writes the op catalog (every
workload's ops with their oracle SQL) to ops.json there. A stamp of the sources skips the work when nothing
changed.

The Spark jars come from $SPARK_HOME/jars, else from the installed
pyspark package.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    except ImportError:
        pass
    raise BuildError("no Spark jars: set SPARK_HOME or install pyspark")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + bench


def classpath(jars):
    return os.path.join(OUT, "perfbench.jar") + os.pathsep + os.path.join(jars, "*")


def _jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))


def ensure_built():
    """Build if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(jars)
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
                        "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                        "@" + args_file], capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    _jar(tmp, os.path.join(OUT, "perfbench.jar"))
    shutil.rmtree(tmp)
    cp = classpath(jars)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Main", "--dump-ops",
                        os.path.join(OUT, "ops.json")], capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("op catalog dump failed:\n" + (r.stdout + r.stderr)[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        sys.exit(str(e))
