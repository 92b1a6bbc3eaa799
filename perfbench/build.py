#!/usr/bin/env python3
"""Builds the benchmark's JVM side from source.

Compiles the repository's main Scala sources together with
`perfbench/harness` into `perfbench/.work/classes-<hash>` with the Scala
compiler that ships in the Spark distribution `build.sbt` compiles
against, so no sbt launcher sits inside a measured process.
The output is keyed by a hash of every source, so an unchanged tree is
built once per checkout.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS = os.path.join(HERE, "harness")


def spark_jars():
    """The jar directory `build.sbt` compiles against (its
    `unmanagedBase`), else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars}")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit(f"perfbench: no program sources at {MAIN_SRC}")
    out = []
    for base in (MAIN_SRC, HARNESS):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath():
    """Builds if needed; returns the runtime classpath and the hash of the
    sources it was built from."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(WORK, "classes-" + key)
    jars = spark_jars()
    if not os.path.exists(os.path.join(out, ".ok")):
        os.makedirs(WORK, exist_ok=True)
        for old in os.listdir(WORK):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        argfile = os.path.join(WORK, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
             "-classpath", jars, "-d", tmp, "-nowarn", "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compilation failed")
        os.rename(tmp, out)
        open(os.path.join(out, ".ok"), "w").close()
    return os.pathsep.join([out, MAIN_RES, jars]), key


if __name__ == "__main__":
    print(classpath()[0])
