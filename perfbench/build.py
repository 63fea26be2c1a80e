#!/usr/bin/env python3
"""The benchmark's build: compiles the engine and the benchmark from source.

Usage, from the root of a checkout:

    python3 perfbench/build.py

Compiles src/main/scala (the engine) and perfbench/src/main/scala (the
benchmark) in one scalac run, with the Scala compiler that ships among
the Spark jars the engine builds against (the directory the engine's
build.sbt names as its unmanagedBase, else $SPARK_HOME/jars). It needs no
sbt, no dependency cache and nothing in the home directory, and writes
only under .bench_build/perfbench/. A build is reused until a source or
the engine's build.sbt changes. Prints the runtime classpath.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

STATE = os.path.join(".bench_build", "perfbench")
SOURCE_TREES = (os.path.join("src", "main", "scala"), os.path.join("perfbench", "src", "main", "scala"))
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def jars_dir(root):
    """The directory of the jars the engine compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jars with a Scala compiler found (build.sbt unmanagedBase, $SPARK_HOME/jars)")


def sources(root):
    out = []
    for tree in SOURCE_TREES:
        top = os.path.join(root, tree)
        if not os.path.isdir(top):
            raise BuildError(f"missing source tree {tree}")
        out += sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))
    return out


def stamp(root, srcs, jars):
    h = hashlib.sha256()
    for p in srcs + [os.path.join(root, "build.sbt")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.access(exe, os.X_OK) else (shutil.which("java") or "java")


def build(root):
    """Compile when needed; returns the runtime classpath."""
    jars = jars_dir(root)
    srcs = sources(root)
    key = stamp(root, srcs, jars)
    state = os.path.join(root, STATE)
    classes = os.path.join(state, "classes")
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == key and os.path.isdir(classes):
            return cp.strip()

    lib = sorted(glob.glob(os.path.join(jars, "*.jar")))
    scala = [j for j in lib if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    tmp = os.path.join(state, "build-tmp")
    out = os.path.join(state, "classes-new")
    for d in (tmp, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main",
           "-d", out, "-classpath", os.pathsep.join(lib), f"@{args_file}"]
    print(f"perfbench: compiling {len(srcs)} Scala sources", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        code = proc.wait(timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile exceeded {COMPILE_TIMEOUT_S} s")
    finally:
        # also on a signal: never leave the compiler running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        raise BuildError(f"scalac exited {code}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    cp = os.pathsep.join([classes] + lib)
    with open(cp_file, "w") as f:
        f.write(key + "\n" + cp + "\n")
    return cp


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except (BuildError, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
