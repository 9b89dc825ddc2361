"""Build file of the RM-program benchmark.

Compiles the repository's `src/main/scala` and the harness in
`rmbench/src` with the Scala compiler that ships in the Spark
distribution (no sbt, nothing resolved from a network or written
outside the checkout). Classes land in jars in `rmbench/.build` (jars,
not directories, so the JVM can archive their class data); each half
is recompiled only when the sha256 of its sources changes.

    python3 rmbench/build.py          # build, print the classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the one next to the `spark-submit` on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH (set JAVA_HOME)")
    return found


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _jar(classes, jar):
    """Pack the directory `classes` into `jar`, entries in sorted order."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in os.walk(classes):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _compile(name, sources, classpath, jars, salt=""):
    """Compile `sources` into .build/<name>.jar unless its stamp
    matches; return (jar, digest)."""
    out = os.path.join(BUILD_DIR, name)
    jar = out + ".jar"
    stamp = os.path.join(BUILD_DIR, name + ".sha256")
    digest = _digest(sources, salt)
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.exists(jar):
        return jar, digest
    if not sources:
        raise BuildError(f"no Scala sources for {name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if os.path.exists(stamp):
        os.remove(stamp)
    argfile = os.path.join(BUILD_DIR, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    print(f"[rmbench] compiling {name} ({len(sources)} files)", file=sys.stderr)
    done = subprocess.run(cmd, timeout=COMPILE_TIMEOUT_S)
    if done.returncode != 0:
        raise BuildError(f"scalac failed for {name}")
    _jar(out, jar)
    shutil.rmtree(out)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar, digest


def build():
    """Compile what changed; return the runtime classpath."""
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"no program sources at {os.path.relpath(MAIN_SRC, ROOT)}")
    jars = spark_jars()
    os.makedirs(BUILD_DIR, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    main, main_digest = _compile("main", _sources(MAIN_SRC), spark_cp, jars)
    # the harness links against the program: rebuild it when main changes
    bench, _ = _compile("bench", _sources(BENCH_SRC),
                        os.pathsep.join([main, spark_cp]), jars,
                        salt=main_digest)
    return os.pathsep.join([bench, main, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[rmbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
