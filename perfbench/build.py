"""Build file of the benchmark package: compiles graft's sources
(`src/main/scala`) together with the benchmark harness (`perfbench/harness`)
into `.bench_build/classes` with the Scala compiler that ships in Spark's
jar directory. A stamp of every source's path and content skips the
compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars the `pyspark` package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"build: missing source directory {os.path.relpath(r, ROOT)}")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    """Runtime classpath: compiled classes, graft's resources, Spark."""
    return os.pathsep.join([os.path.join(OUT, "classes"),
                            os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    """Compiles when the sources changed; returns seconds spent compiling."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return 0.0
    t0 = time.time()
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return time.time() - t0


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(f"build: {build():.1f} s")
