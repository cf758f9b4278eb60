#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's JVM harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory, into `.bench_build/classes`.

Usage: python3 perfbench/build.py   (from the repository root)

Prints the runtime classpath on success. Skips compiling when the sources
are unchanged since the last build (a digest of every source file).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")


def spark_jars():
    """Spark's jars (with its Scala compiler): $SPARK_HOME/jars, else the
    first Spark distribution whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(
                os.path.realpath(exe))))
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "perfbench", "src")]
    found = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit("build: missing source directory %s" % r)
        for d, _, names in os.walk(r):
            found += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(found)


def classpath():
    res = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([CLASSES, res] + spark_jars())


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-nowarn\n-d\n%s\n-classpath\n%s\n" %
                (CLASSES, os.pathsep.join(jars)))
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD, "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build: scalac failed (exit %d)" % p.returncode)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
