"""Build file of the graft benchmark: compiles the engine and the harness.

The engine's sources (src/main/scala) and the harness (perfbench/src) are
compiled together with the Scala compiler that ships among the Spark jars,
into `.bench_build/graftbench/classes`. A stamp of the sources' content
makes later runs skip the build.

The Spark jars are found under $SPARK_HOME/jars, or else in the directory
that build.sbt names as `unmanagedBase`.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("graftbench: no Spark jars: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    return main, bench


def build():
    """Compile if the sources changed; return the classes directory."""
    main, bench = sources()
    if not main:
        sys.exit("graftbench: no engine sources under src/main/scala")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "graftbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    built = os.path.exists(os.path.join(classes, "graftbench", "GraftBench.class"))
    if built and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("graftbench: build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
