"""Builds the engine and the benchmark harness from source.

The engine's Scala sources (`src/main/scala`) and the harness
(`perfbench/src/main/scala`) compile together with the Scala compiler that
ships among the Spark jars the engine's own build names (`unmanagedBase` in
`build.sbt`). Classes land in `.bench_build/classes`, stamped with a digest
of every input, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py     # prints the classpath to run with
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jar directory the engine's build.sbt declares."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise RuntimeError("no engine sources under src/main/scala")
    return files + sorted(glob.glob("perfbench/src/main/scala/**/*.scala", recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files + sorted(glob.glob("src/main/resources/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles if the inputs changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    stamp = digest(files)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "classes.stamp")
    cp = os.pathsep.join([os.path.abspath(classes), os.path.join(jars, "*")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compilation failed")
    if os.path.isdir("src/main/resources"):
        shutil.copytree("src/main/resources", tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
