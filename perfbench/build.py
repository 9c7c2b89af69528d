#!/usr/bin/env python3
"""Builds the benchmark: the program's main sources plus the benchmark's
own sources, compiled together by the Scala compiler that ships with
Spark's jars (the jars the repo's build.sbt compiles against).

    python3 perfbench/build.py        # prints the class directory

The classes go to .bench_build/perfbench/<key>/classes, where the key is
a digest of every source file, so an unchanged tree is not rebuilt. The
same directory gets modules.tsv, which maps each program source file to
its module (the directory under graft/), for the traced run. The
benchmark's own files are not in it, so a job started from them counts
as unattributed.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PROGRAM = os.path.join(REPO, "src", "main", "scala")
OWN = os.path.join(HERE, "src")
BUILD_ROOT = os.path.join(REPO, ".bench_build", "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(REPO, "build.sbt")) as fh:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
    except (OSError, AttributeError):
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def module_of(path):
    """graft/sinks/MergeByKey.scala -> sinks; graft/Tables.scala -> graft."""
    parts = os.path.relpath(path, PROGRAM).split(os.sep)
    return parts[1] if len(parts) > 2 else parts[0]


def build():
    """Returns the class directory, compiling first when the sources changed.
    Runs started together in one checkout build one at a time."""
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        raise SystemExit("perfbench: program sources not found under src/main/scala")
    if not os.path.isdir(spark_jars()):
        raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")
    os.makedirs(BUILD_ROOT, exist_ok=True)
    with open(os.path.join(os.path.dirname(BUILD_ROOT), "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    program, own = sources(PROGRAM), sources(OWN)
    h = hashlib.sha256()
    for f in program + own:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_ROOT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(BUILD_ROOT)  # earlier builds of other sources
    os.makedirs(classes)
    with open(os.path.join(out, "sources.txt"), "w") as fh:
        fh.write("\n".join(program + own) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "@" + os.path.join(out, "sources.txt")]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    with open(os.path.join(out, "modules.tsv"), "w") as fh:
        for f in program:
            fh.write(f"{os.path.basename(f)}\t{module_of(f)}\n")
    open(os.path.join(out, "ok"), "w").close()
    return out


if __name__ == "__main__":
    print(os.path.join(build(), "classes"))
