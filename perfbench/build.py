"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/scala) into one class
directory, with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py          # prints the class directory

The build is skipped when a stamp of every source file and of the compiler
classpath matches the last successful build. Outputs go under
.bench_build/perfbench/ at the root of the checkout.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark on PATH that ships a
    Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark with a Scala compiler found (set SPARK_HOME)")


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"perfbench: no program sources at {program}")
    files = []
    for base in (program, os.path.join(HERE, "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
