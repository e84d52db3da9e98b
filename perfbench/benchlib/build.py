"""Offline build: the repo's main sources plus the harness, compiled by the
Scala 2.13 compiler that ships in Spark's jar directory, into the build
directory.  A stamp of the sources' hash skips rebuilding unchanged code."""
import glob
import hashlib
import json
import os
import shutil
import subprocess


def _spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(_spark_home(), "jars")

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"no engine sources at {main}")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError("no Spark installation: set SPARK_HOME")
    bench = os.path.join(root, "perfbench", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(bench, "**", "*.scala"), recursive=True))
    return files


def java_opts():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return out


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(root, build_dir, log):
    """Compile if the sources changed; return the source hash."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp.json")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if json.load(f).get("sources") == stamp:
                return stamp
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    log(f"building {len(files)} sources into {classes}")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        json.dump({"sources": stamp}, f)
    return stamp
