#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships in the Spark distribution, into
`.bench_build/perfbench/<source hash>/classes` under the checkout.

Run from the root of a checkout: `python3 perfbench/build.py`. A build
whose source hash is already present is reused.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = (os.path.join("src", "main", "scala"), os.path.join("perfbench", "src"))


class BuildError(Exception):
    pass


def spark_jars(root="."):
    """Directory of the Spark distribution's jars (Scala compiler included):
    `$SPARK_HOME/jars`, else the `unmanagedBase` the repository's build.sbt
    names."""
    candidates = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in candidates:
        if os.path.isdir(d) and any(n.startswith("scala-compiler") for n in os.listdir(d)):
            return d
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    found = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {d}")
        for dirpath, _, names in os.walk(base):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def ensure(root):
    """Path of the compiled classes for the sources under `root`."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, BUILD_DIR, digest.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "OK")):
        return classes
    jars = spark_jars(root)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiler did not run: {e}")
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, "OK"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build of the same sources won
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
