"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) and the benchmark harness (`perfbench/scala`) with the
Scala compiler that ships in Spark's jar directory, into the build dir.

The build is skipped when a stamp of every source file's content matches the
last successful build. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCES = ["src/main/scala", "perfbench/scala"]


def build_dir():
    root = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(root, "perfbench"))


def spark_jars():
    """Spark's jar directory: the `unmanagedBase` the sbt build compiles
    against, else `$SPARK_HOME/jars`."""
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench build: no Spark jar directory; set SPARK_HOME")


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench build: source dir {root} is missing")
        files += sorted(glob.glob(f"{root}/**/*.scala", recursive=True))
    return files


def build():
    """Compile if needed; return the classes directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench build: scalac failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
