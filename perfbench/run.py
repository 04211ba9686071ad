#!/usr/bin/env python3
"""Spatial engine benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload batch|sql --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles graft (src/main) and
the benchmark (perfbench/src) with the Scala compiler that ships with Spark
into .bench_build/perfbench/perfbench.jar, then records a shared class
archive from one untimed training pass over every workload; later runs
reuse both while the sources are unchanged. The JVM generates the inputs
from the seed, discards the workload's warm-up rounds, then times whole
rounds of its operation mix until S seconds have passed (at least one
round), and writes every distinct answer to a work directory. The answers
are then checked against DuckDB over the same parquet inputs, outside all
timing, and the work directory is removed.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
A traced run also writes its spans and layer figures to
.bench_build/perfbench/traces/<workload>-seed<N>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# shared class archive of the Spark, graft and benchmark classes a run
# loads: it halves the JVM's cold start, which every run pays in set-up
ARCHIVE = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 160
HEAP = "3g"
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import check  # noqa: E402
import layers  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark jars not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("java not found")
    return exe


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        fail("no graft sources under src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def jvm_cmd(jars, work, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"] + extra
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"), "perfbench.PerfBench"]


def build(jars):
    """Compiles graft and the benchmark into a jar, then records the class
    archive from one training pass over every workload; skipped while the
    stamp matches the sources."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("compilation failed")
    # the class archive maps classes from jars only, not from directories
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), CLASSES))
    work = os.path.join(BUILD, f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cmd = jvm_cmd(jars, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
            "--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0", "--work", work]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=work, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not os.path.exists(ARCHIVE):
            sys.stderr.write(p.stdout[-4000:])
            fail("training pass for the class archive failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, or None. Steal is
    time the hypervisor gave this machine's CPUs to others; a run with a
    large share of it measured a contended host."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(v) for v in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(args, jars, work):
    cmd = jvm_cmd(jars, work, [f"-XX:SharedArchiveFile={ARCHIVE}"]) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work]
    log_path = os.path.join(work, "jvm.log")
    t0, ticks0 = time.time(), cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    ticks1 = cpu_ticks()
    steal = (f", CPU steal {(ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1):.1%}"
             if ticks0 and ticks1 else "")
    print(f"perfbench: JVM ran {time.time() - t0:.1f} s{steal}", file=sys.stderr)
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"benchmark JVM ended with {code}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def end_to_end(res):
    rounds = [r for r in res["rounds"] if not r["warmup"]]
    by_kind = {}
    for r in rounds:
        for c in r["calls"]:
            if c["ok"]:
                by_kind.setdefault(c["kind"], []).append(c["s"])
    kind_medians = [statistics.median(v) for v in by_kind.values()]
    shuffle = res["shuffle_bytes"]
    per_round = [sum(shuffle.get(c["group"], 0) for c in r["calls"]) for r in rounds]
    return {
        "setup_s": (res["setup_s"], "s"),
        "round_s": (statistics.median(r["s"] for r in rounds), "s"),
        "query_p50_s": (statistics.geometric_mean(kind_medians), "s"),
        "shuffle_bytes_per_round": (statistics.median(per_round), "bytes"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch", "sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    jars = spark_jars()
    build(jars)
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, jars, work)
        t0 = time.time()
        problems, rejected = check.verify(res, work)
        print(f"perfbench: checked {len(res['outputs'])} answers in {time.time() - t0:.1f} s; "
              f"the checks rejected {rejected} broken copies of them", file=sys.stderr)
        for p in problems:
            print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
        if args.trace:
            metrics, side = layers.per_layer(res, work)
            side["end_to_end"] = {k: v for k, (v, _) in end_to_end(res).items()}
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            side_path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(side_path, "w") as fh:
                json.dump(side, fh, indent=1)
            print(f"perfbench: trace written to {os.path.relpath(side_path, ROOT)}", file=sys.stderr)
        else:
            metrics = end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
