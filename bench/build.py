"""Build file of the benchmark: compiles the program (`src/main`) and the
benchmark's own JVM code (`bench/jvm/src`) from source in one scalac pass,
against the Spark distribution's jars, the same classpath the
repository's build.sbt compiles against (`unmanagedBase`).

The classes land in `$CARGO_TARGET_DIR` (default `.bench_build`) under a
name derived from a hash of every source file, so a checkout builds once
and a changed source builds again.

    python3 bench/build.py        # from the root of a checkout
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    submit = shutil.which("spark-submit")
    home = os.environ.get("SPARK_HOME") or (
        submit and os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    if not home:
        raise BuildError("no Spark distribution: set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return os.path.join(jars, "*")


def sources(root):
    main = os.path.join(root, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise BuildError(f"no program sources under {main}/scala")
    found = []
    for base in (os.path.join(main, "scala"), os.path.join(BENCH, "jvm", "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def ensure(root):
    """Classpath of the built program and benchmark, building if needed."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    target = target_dir(root)
    classes = os.path.join(target, "classes-" + h.hexdigest()[:16])
    resources = os.path.join(root, "src", "main", "resources")
    classpath = os.pathsep.join([classes, resources, jars])
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classpath
    os.makedirs(target, exist_ok=True)
    for old in glob.glob(os.path.join(target, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[bench] compiling {len(srcs)} source files", file=sys.stderr, flush=True)
    scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
              "-nowarn", "-usejavacp", "-d", tmp, "@" + argfile]
    if subprocess.run(scalac).returncode != 0:
        raise BuildError("scalac failed")
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    os.rename(tmp, classes)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
