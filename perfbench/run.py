#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
harness with the Scala compiler that ships in Spark's jars, and generates
the input tables; both land in `.bench_build/` and are reused while their
inputs are unchanged. The run itself is one JVM (`perfbench.Main`). Its
record, plus provenance, is written to `.bench_build/runs/` and printed as
`record: {...}`; the last stdout line is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.

    python3 perfbench/run.py --refgen   # rewrite perfbench/expected_hashes.json
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HASHES = os.path.join(HERE, "expected_hashes.json")
DATA_SEED = 42
HEAP = "2g"
# A run whose CPU steal over the timed window exceeds this share is marked
# as interfered with; compare.py leaves marked runs out.
STEAL_LIMIT_PCT = 5.0
# The whole run, build included after the first, must end within this.
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 600
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(jars):
    """Compile engine + harness into .bench_build/classes-<digest>."""
    srcs = (glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
            + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    key = digest(srcs, extra=" ".join(sorted(os.listdir(jars))))
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.isdir(out):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + sorted(srcs)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    return out


def data():
    """Generate the input tables into .bench_build/data-<digest>."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, f"data-{digest([gen], str(DATA_SEED))}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, gen, tmp, "--seed", str(DATA_SEED)],
                   check=True, timeout=BUILD_TIMEOUT_S)
    os.rename(tmp, out)
    return out


def git_head():
    """HEAD of the checkout, or None when it is not a git work tree itself."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=ROOT, text=True, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or not os.path.samefile(out[0], ROOT):
        return None
    return out[1]


def jvm(classes, jars, args, timeout):
    """Run perfbench.Main; its stdout lines, or exit if it fails."""
    tmp = os.path.join(BUILD, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # a fixed-size heap keeps the RSS high-water mark from tracking
           # the collector's resizing decisions
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main", "--local-dir", tmp] + args)
    log_path = os.path.join(BUILD, "last_run.log")
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {timeout:.0f} s (log: {log_path})")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        fail(f"JVM exited {r.returncode} (log: {log_path})")
    return r.stdout.splitlines()


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refgen", action="store_true",
                    help="rewrite the reference output hashes and exit")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a checkout root")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    sf = data()
    if a.refgen:
        print("\n".join(jvm(classes, jars, ["--sf", sf, "--refgen", HASHES],
                            BUILD_TIMEOUT_S)))
        return
    if not a.workload:
        fail("--workload is required")

    left = RUN_TIMEOUT_S - (time.time() - t_start)
    out = jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--sf", sf, "--hashes", HASHES], max(30.0, left))
    if not out or not out[-1].startswith("{"):
        fail("the JVM printed no record")
    rec = json.loads(out[-1])
    rec["provenance"] = {
        "git_head": git_head(), "source_digest": os.path.basename(classes)[8:],
        "data": os.path.basename(sf), "data_seed": DATA_SEED, "heap": HEAP,
        "steal_limit_pct": STEAL_LIMIT_PCT}
    rec["interfered"] = rec["steal_pct"] > STEAL_LIMIT_PCT

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = rec["layers"] if a.trace else rec
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}
    result = {"correct": rec["mismatched"] == 0, "attempted": rec["attempted"],
              "failed": rec["failed"], "metrics": metrics}
    rec["result"] = result
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                              f"{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(rec, f, sort_keys=True)
    print("record: " + json.dumps(rec, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
