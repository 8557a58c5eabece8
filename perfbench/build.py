"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src)
with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py          # prints the class directory

The output lands in .bench_build/classes at the checkout root and is
reused while no source file changes (a content hash is kept beside it).
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


def spark_jars() -> str:
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    program's own build compiles against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


def sources() -> list:
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main or not own:
        raise SystemExit("perfbench: program sources not found (src/main/scala)")
    return main + own


def build() -> str:
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    # resources the program loads through the class path
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res_dir):
        shutil.copytree(res_dir, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build())
