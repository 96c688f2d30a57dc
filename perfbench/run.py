#!/usr/bin/env python3
"""Pipeline benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Builds the product plus the harness from source (once per source state,
under perfbench/target), runs one workload in a fresh JVM and prints the
result as one JSON object on the last line of stdout. The full record,
with provenance, failures and detail, is kept under .perfbench/records/.
`--smoke` runs every workload at minimum size and checks the metric set
against BENCHMARK.json; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
# the catalog's tables (the repository's sf0.001 testdata) and the digests
# of their oracle-checked query outputs
SF_DIR = os.path.join(BENCH, "data", "sf0.001")
EXPECTED = os.path.join(BENCH, "expected", "catalog_sf0.001.txt")
WORKLOADS = ("batch_daily", "sensor_stream", "catalog_hot")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, or the one
    next to the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME", "")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark installation found: set SPARK_HOME")
    return jars


def source_stamp():
    """MD5 over every source and build file the harness build reads."""
    md = hashlib.md5()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        md.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            md.update(fh.read())
    return md.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no product sources (src/main/scala/graft) next to perfbench/")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env["SPARK_HOME"] = os.path.dirname(spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "compile"], cwd=BENCH, env=env, stdout=log,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build did not finish within {BUILD_TIMEOUT_S} s", 3)
    if p.returncode != 0:
        die(f"build failed, see {os.path.join(WORK, 'build.log')}", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(workload, seed, seconds, trace, smoke=False, expected=EXPECTED):
    """Runs one workload in a fresh JVM; returns the parsed record."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(WORK, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in JDK17_OPENS
                      for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", os.path.join(work, "data"),
        "--expected", expected, "--sf-dir", SF_DIR,
    ] + (["--size", "smoke"] if smoke else [])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        fh.write(err)
    rec = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RECORD "):
            rec = json.loads(line[len("PERFBENCH_RECORD "):])
    if proc.returncode != 0 or rec is None:
        sys.stderr.write(err[-4000:])
        die(f"{workload} exited {proc.returncode} without a record "
            f"(log: {os.path.join(work, 'jvm.log')})", 5)
    keep = os.path.join(WORK, "records")
    os.makedirs(keep, exist_ok=True)
    for f in ("record.json", "spans.jsonl"):
        src = os.path.join(work, "data", f)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(keep, f"{tag}.{f}"))
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(keep, f"{tag}.jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    return rec


def result_line(rec):
    """The result line: the registered metrics of the run's kind."""
    metrics = rec["metrics"]
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_file):
        spec = json.load(open(spec_file))
        names = {m["name"] for m in
                 spec["per_layer" if rec["trace"] else "end_to_end"]}
        metrics = {k: v for k, v in metrics.items() if k in names}
    return json.dumps({"correct": rec["correct"],
                       "attempted": rec["attempted"],
                       "failed": rec["failed"],
                       "metrics": metrics})


def smoke():
    """Minimum-size run of every workload, traced and untraced (the
    catalog with one pass), checking that every BENCHMARK.json metric is
    emitted with its unit and every output check passes, and that a wrong
    expected digest fails the catalog check."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in WORKLOADS:
        for trace in (0, 1):
            rec = run_jvm(w, 1, 5, trace, smoke=True)
            got = rec["metrics"]
            for name, unit in want[trace].items():
                if name not in got:
                    problems.append(f"{w} trace={trace}: missing {name}")
                elif got[name]["unit"] != unit:
                    problems.append(f"{w} trace={trace}: {name} unit "
                                    f"{got[name]['unit']} != {unit}")
            if not rec["correct"] or rec["failed"]:
                problems.append(f"{w} trace={trace}: failures "
                                f"{rec['failures']}")
            print(f"smoke {w} trace={trace}: attempted={rec['attempted']} "
                  f"failed={rec['failed']}")
    bad = os.path.join(WORK, "wrong_digests.txt")
    with open(EXPECTED) as fh:
        lines = [l.split() for l in fh if l.strip() and not l.startswith("#")]
    with open(bad, "w") as fh:
        for i, (qid, dig) in enumerate(lines):
            fh.write(f"{qid} {'0:0' if i == 0 else dig}\n")
    rec = run_jvm("catalog_hot", 1, 5, 0, smoke=True, expected=bad)
    if rec["correct"] or rec["failed"] == 0:
        problems.append("a wrong expected digest did not fail the check")
    else:
        print(f"smoke wrong-digest check: failed={rec['failed']} as expected")
    for p in problems:
        print("SMOKE FAIL " + p)
    print(json.dumps({"smoke_ok": not problems, "problems": len(problems)}))
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        die("--workload is required")
    build()
    if a.smoke:
        smoke()
    rec = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    print(result_line(rec))


if __name__ == "__main__":
    main()
