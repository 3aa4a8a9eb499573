#!/usr/bin/env python3
"""Benchmark of the graft engine: seeded inputs driven through the program's
public API in one Spark session, outputs checked against DuckDB.

    python3 etlbench/run.py --workload daily_etl --seed 1 --seconds 6 --trace 0

Workloads (etlbench/README.md says why each was chosen):
  daily_etl     TestpilotDaily ingest into three parquet sinks, then the
                profile job over two of them
  corpus_dedup  CorpusPipeline.run over 2,000 documents, then three corpus
                queries from SparkEntry.queries

A run builds the program and the JVM harness from source when they changed
(under .bench_build/), derives its inputs from the testdata tables by seed,
runs untimed warm-up passes, then timed passes for --seconds of measured
time, checks every output against DuckDB, and prints as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the timed passes
alternate untraced and traced and the metrics are the per-layer ones. The
full record of a run goes to .bench_build/etlbench/artifacts/. A run that
cannot set up exits 2 and says why on its last line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("daily_etl", "corpus_dedup")
BUILD = os.path.join(ROOT, ".bench_build", "etlbench")
SPARK_JARS = os.environ.get("ETLBENCH_SPARK_JARS", "/opt/spark/jars")
TESTDATA = os.environ.get("ETLBENCH_TESTDATA", "/root/testdata")
SCALA_VERSION = "2.13.17"
THREADS = min(4, os.cpu_count() or 1)
HEAP = "3g"
DEADLINE_S = 170
BUILD_DEADLINE_S = 700
# no JVM perf-data file: a run writes only inside its checkout
JVM_FLAGS = ["-XX:-UsePerfData"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class SetupError(Exception):
    pass


_children = []


def _run(cmd, timeout, log, env=None):
    """Run `cmd` to completion with its output in `log`; kill it on timeout
    or when this process is told to stop."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, env=env)
        _children.append(p)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            raise SetupError(f"{os.path.basename(cmd[-1])} exceeded {timeout:.0f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            _children.remove(p)


def _tail(path, n=5):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(deadline):
    """Compile the program's sources and the harness with scalac against
    the Spark jars; reuse the classes while no source changed."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise SetupError("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    jar = {n: os.path.join(SPARK_JARS, f"scala-{n}-{SCALA_VERSION}.jar")
           for n in ("compiler", "library", "reflect")}
    if not all(os.path.isfile(j) for j in jar.values()):
        raise SetupError(f"Scala {SCALA_VERSION} compiler jars not found in {SPARK_JARS}")
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-tmp-", dir=BUILD)
    try:
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        log = os.path.join(BUILD, "build.log")
        open(log, "w").close()
        cmd = ["java", *JVM_FLAGS, "-Xss8m", "-Xmx2g", "-cp", ":".join(jar.values()),
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
               "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
        if _run(cmd, deadline - time.time(), log) != 0:
            raise SetupError("scalac failed: " + _tail(log).replace("\n", " | "))
        os.remove(argfile)
        open(os.path.join(tmp, ".done"), "w").close()
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def run_jvm(classes, args, work, deadline):
    artifact = os.path.join(work, "jvm.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", *JVM_FLAGS, f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}", "etlbench.Main",
            "--workload", args.workload, "--in", os.path.join(work, "inputs"),
            "--work", work, "--artifact", artifact, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--threads", str(THREADS)])
    log = os.path.join(work, "jvm.log")
    # Spark would put shuffle files there instead of under the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    # leave time for the check after the JVM
    rc = _run(cmd, deadline - 30 - time.time(), log, env)
    if rc != 0 or not os.path.isfile(artifact):
        raise SetupError(f"harness JVM exited {rc}: " + _tail(log).replace("\n", " | "))
    with open(artifact) as f:
        return json.load(f)


def count_failures(workload, jvm, report):
    """Failed operations: those that raised, plus, in each checked mode, the
    operation that wrote each mismatched output (on daily_etl all outputs
    come from its one operation, the pass)."""
    ops = [op for p in jvm["passes"] if p["phase"] == "timed" for op in p["ops"]]
    names = {op["name"] for op in ops}
    bad = {n if n in names else workload for n, r in report.items() if not r["ok"]}
    modes = 1 + any(p["traced"] for p in jvm["passes"])
    failed = sum(op["error"] is not None for op in ops) + len(bad) * modes
    return len(ops), min(failed, len(ops))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        classes = build(t0 + BUILD_DEADLINE_S)
        # a run that had to build gets its own budget after the build
        deadline = max(deadline, time.time() + DEADLINE_S - 20)
        g0 = time.time()
        inputs = gen.generate(args.workload, args.seed, TESTDATA,
                              os.path.join(work, "inputs"))
        inputs["gen_s"] = time.time() - g0
        jvm = run_jvm(classes, args, work, deadline)
        modes = {"untraced": os.path.join(work, "pass-untraced")}
        if args.trace:
            modes["traced"] = os.path.join(work, "pass-traced")
        c0 = time.time()
        report = check.check(args.workload, os.path.join(work, "inputs"), modes,
                             jvm["oracle_sql"], threads=THREADS)
        check_s = time.time() - c0
    except Exception as e:  # noqa: BLE001 - any failure to set up ends the run
        print(f"etlbench: cannot run {args.workload}: {type(e).__name__}: {e}")
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = count_failures(args.workload, jvm, report)
    e2e, e2e_detail = stats.end_to_end(jvm, inputs)
    layers, layer_detail = stats.per_layer(jvm) if args.trace else ({}, {})
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "threads": THREADS, "heap": HEAP,
        "wall_s": time.time() - t0, "check_s": check_s, "inputs": inputs,
        "meta": jvm["meta"],
        "setup": jvm["setup"], "end_to_end": e2e, "end_to_end_detail": e2e_detail,
        "fail_ratio": failed / attempted, "attempted": attempted, "failed": failed,
        "per_layer": layers, "per_layer_detail": layer_detail, "check": report,
        "passes": jvm["passes"], "spans": jvm["spans"], "jobs": jvm["jobs"],
        "plans": jvm["plans"],
    }
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(BUILD, "artifacts", name), "w") as f:
        json.dump(record, f, indent=1)

    shown, units = (layers, stats.PER_LAYER_UNITS) if args.trace else \
        (e2e, stats.END_TO_END_UNITS)
    for k, v in shown.items():
        print(f"{k:40s} {v:14.6g} {units[k]}")
    print(f"{'fail_ratio':40s} {failed / attempted:14.6g} ratio "
          f"({failed}/{attempted})")
    for n, r in report.items():
        if not r["ok"]:
            print(f"mismatch {n}: {r}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0


def _stop(signum, frame):
    for p in list(_children):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    sys.exit(main(sys.argv[1:]))
