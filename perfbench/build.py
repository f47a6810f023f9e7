"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/scala`) into
`.bench_build/classes`, using the Scala compiler that ships in the Spark
jar directory the repo's `build.sbt` compiles against (`unmanagedBase`;
`SPARK_HOME/jars` when build.sbt names none). A stamp over every source
and jar name skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repo root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    return program + bench


def ensure(root):
    """Compile if needed; return the runtime classpath as a list."""
    jars_dir = spark_jars(root)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    for jar in jars:
        digest.update(os.path.basename(jar).encode())
    stamp = digest.hexdigest()

    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return [classes, os.path.join(jars_dir, "*")]

    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("perfbench: the Spark jar directory has no Scala compiler")
    staging = os.path.join(out, f"classes.tmp{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging,
           "-cp", os.pathsep.join(jars)] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [classes, os.path.join(jars_dir, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(ensure(os.getcwd())))
