#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution, and packs the classes with src/main/resources into
<build dir>/perfbench.jar.

    python3 perfbench/build.py [build dir]     (default: .bench_build)

Run from the root of a checkout. The build is skipped when a stamp of
every source file's path and content matches the last build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

SCALA = "2.13.17"


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, else
    the unmanagedBase that build.sbt compiles the program against."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    if os.path.isfile("build.sbt"):
        with open("build.sbt") as fh:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    for d in dirs:
        if os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
            return d
    sys.exit("perfbench: no Spark jars with scala-compiler-%s found "
             "(set SPARK_HOME)" % SCALA)


def sources():
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        if not os.path.isdir(top):
            sys.exit(f"perfbench: {top} not found; run from the root of a checkout")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files + ["perfbench/build.py"]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def pack(jar, *roots):
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for root in roots:
            for d, _, files in os.walk(root):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, root))
    os.replace(jar + ".tmp", jar)


def build(build_dir=".bench_build"):
    """Returns the path of the jar, compiling first if it is stale."""
    files = sources()
    jars = spark_jars()
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "perfbench.jar")
    stamp_file = os.path.join(build_dir, "perfbench.stamp")
    want = stamp(files)
    if (os.path.isfile(stamp_file) and os.path.isfile(jar)
            and open(stamp_file).read() == want):
        return jar
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars))
                  if j.endswith(".jar"))
    compiler = ":".join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    print(f"perfbench: compiling {len(files)} files", file=sys.stderr, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    pack(jar, classes, "src/main/resources")
    shutil.rmtree(classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


if __name__ == "__main__":
    build(*sys.argv[1:2])
