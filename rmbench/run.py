"""RM-program benchmark: build the program from source, run one workload.

    python3 rmbench/run.py --workload rm_small --seed 1 --seconds 10 --trace 0
    python3 rmbench/run.py --self-test

Runs from any directory; everything it writes stays under rmbench/
(.build for classes, .work for inputs and Spark scratch, out for
trace files). The last stdout line of a run is the result object:
{"correct", "attempted", "failed", "metrics"}. See rmbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ["rm_small", "rm_docs", "curate_iterative", "ingest_persist"]
# the workloads whose classes the class-data archive holds
TRAIN_WORKLOADS = ["curate_iterative", "ingest_persist"]
RUN_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 400
JVM_HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the repo build; org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, main_args, archive_flag=None):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # fixed heap, two GC threads, C1 only: see "JVM settings" in README.md
    return [build.java_bin(), *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
            *([archive_flag] if archive_flag else []),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "rmbench.Main", *main_args]


def run_jvm(cmd, timeout=RUN_TIMEOUT_S):
    """Run the harness JVM in its own process group; return (code, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"[rmbench] run exceeded {timeout} s", file=sys.stderr)
        return 1, ""
    return proc.returncode, out


def class_archive(classpath):
    """The harness's class-data archive (see "JVM settings" in
    README.md), made once per build by a training run of
    TRAIN_WORKLOADS that dumps the classes it loaded. Returns its path,
    or None when the training run fails; runs then go without it.
    """
    jsa = os.path.join(build.BUILD_DIR, "harness.jsa")
    stamp = jsa + ".sha256"
    key = hashlib.sha256("\n".join(
        [classpath, build.java_bin(), *TRAIN_WORKLOADS] +
        [open(os.path.join(build.BUILD_DIR, n + ".sha256")).read()
         for n in ("main", "bench")]).encode()).hexdigest()
    if os.path.exists(jsa) and os.path.exists(stamp) \
            and open(stamp).read() == key:
        return jsa
    for f in (jsa, stamp):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(build.BENCH_DIR, ".work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    print("[rmbench] training run for the class-data archive",
          file=sys.stderr)
    try:
        code, _ = run_jvm(jvm_command(
            classpath, work,
            ["--train", ",".join(TRAIN_WORKLOADS), "--seed", "0",
             "--work", work, "--out", work],
            archive_flag=f"-XX:ArchiveClassesAtExit={jsa}"), TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(jsa):
        print("[rmbench] no class-data archive; running without it",
              file=sys.stderr)
        if os.path.exists(jsa):
            os.remove(jsa)
        return None
    with open(stamp, "w") as fh:
        fh.write(key)
    return jsa


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict)
            and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and (args.workload is None or args.seed is None
                               or args.seconds is None or args.seconds < 1):
        ap.error("--workload, --seed and --seconds (>= 1) are required")

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[rmbench] build failed: {e}", file=sys.stderr)
        return 2
    jsa = class_archive(classpath)

    work = os.path.join(build.BENCH_DIR, ".work", str(os.getpid()))
    shutil.rmtree(os.path.join(build.BENCH_DIR, ".work"), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(build.BENCH_DIR, "out")
    if args.self_test:
        main_args = ["--self-test", "--work", work,
                     "--benchmark-json", os.path.join(build.ROOT, "BENCHMARK.json")]
    else:
        main_args = ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", work, "--out", out_dir]
    try:
        code, out = run_jvm(jvm_command(
            classpath, work, main_args,
            archive_flag=jsa and f"-XX:SharedArchiveFile={jsa}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    if code != 0:
        sys.stdout.write("".join(l + "\n" for l in lines
                                 if not valid_result(l)))
        print(f"[rmbench] harness exited with {code}", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    if not args.self_test and not (lines and valid_result(lines[-1])):
        print("[rmbench] harness printed no result", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
