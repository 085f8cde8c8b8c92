#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft engine
(``src/main/scala``, plus ``src/main/resources``) and the driver in
``perfbench/src`` with the Scala compiler that ships in Spark's ``jars``
directory into one jar, ``perfbench.jar`` in ``$CARGO_TARGET_DIR`` (default
``.bench_build``) under the checkout root. Skipped while the sources are
unchanged.

    python3 perfbench/build.py      # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found; set SPARK_HOME")
    return jars


def tree(base):
    return sorted(os.path.join(d, n) for d, _, names in os.walk(base)
                  for n in names)


def build(root, jars):
    """Compile the engine and the driver with scalac from Spark's own
    scala-compiler and pack the classes with the engine's resources (its
    data source registration) into one jar; skipped when nothing changed.
    A rebuild also drops the class-data archive made from the last jar."""
    resources = os.path.join(root, "src", "main", "resources")
    srcs = [p for p in tree(os.path.join(root, "src", "main", "scala"))
            + tree(os.path.join(HERE, "src")) if p.endswith(".scala")]
    h = hashlib.sha256()
    for p in srcs + tree(resources):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                          os.path.join(root, ".bench_build"))
    jar = os.path.join(out, "perfbench.jar")
    stamp = os.path.join(out, "perfbench-stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    classes = os.path.join(out, "perfbench-classes")
    log(f"compiling {len(srcs)} sources into {jar}")
    for p in (stamp, jar, archive_of(jar)):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-",
                                 "scala-reflect-"))]
    argfile = os.path.join(out, "perfbench-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath",
         os.path.join(jars, "*"), "-d", classes, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for p in tree(classes):
            z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"compiled in {time.time() - t0:.1f} s")
    return jar


def archive_of(jar):
    """The class-data archive trained on `jar` (see run.py)."""
    return os.path.splitext(jar)[0] + ".jsa"


if __name__ == "__main__":
    print(build(os.getcwd(), spark_jars()))
