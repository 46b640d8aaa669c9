"""Build step of the benchmark: compiles the engine's main sources together
with the benchmark driver (perfbench/src) into `<out>/classes` with the Scala
compiler that ships in Spark's jar directory.  A digest of every source file
is stored next to the classes; an unchanged tree is not recompiled.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("Spark jars with a Scala compiler not found: set SPARK_HOME")
    return jars


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def sources(root, here):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"engine sources not found under {root}: run from the "
                 "repository root")
    found = []
    for base in (engine, os.path.join(here, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_digest(root, here):
    h = hashlib.sha1()
    for f in sources(root, here):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_sha(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def ensure_built(root, here, out):
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.digest")
    digest = source_digest(root, here)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", tmp,
         *sources(root, here)],
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("compiling the engine and the benchmark failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes
