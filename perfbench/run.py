#!/usr/bin/env python3
"""The repo benchmark: per-object ingest (fleet_ingest) and a query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark's JVM program (perfbench/scala) into .bench_build/, generates
the workload's inputs from the seed under .bench_work/, runs the workload in
a fresh JVM, checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 reports the end-to-end metrics; --trace 1 runs the workload with
listeners and layer replays on, reports the per-layer metrics and writes
every span to .bench_work/traces/. README.md in this directory defines each
metric.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gates  # noqa: E402
import gen_can  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # a hung JVM is killed before a run reaches 180 s
HEAP = "2g"

# fleet_ingest: `history` hours per device are drained at once (the backlog
# drain), then each invocation admits one more hourly object per device.
FLEET = {"devices": 2, "history": 1, "invocations": 1}
# The largest scale whose run fits the time budget: q87_curation_v2's
# DuckDB oracle compares documents pairwise and takes 7 s at sf 0.01 but 46 s
# at sf 0.03 (lineitem 60k rows, 500 documents at sf 0.01).
QUERY_SF = 0.01
# Timed passes per query_mix run. Fixed, so every run (and every commit)
# measures the same passes whatever their speed.
QUERY_PASSES = 2
SCAN_CLASS = ["q01_filter_project", "q02_tpch_q1", "q03_join_multi", "q21_sessionize",
              "q22_transition_detect", "q23_asof_join", "q28_stationary_ref", "q59_tfidf",
              "q80_bm25", "q93_resample_ffill"]
# Three of the five iterative cells: q123_leakfree_split and q208_label_propagation
# are left out to keep a run inside its time budget (q208 repeats q106's graph
# loop; q123 has the costliest oracle).
LOOP_CLASS = ["q87_curation_v2", "q106_link_pagerank", "q128_hits"]

WORKLOADS = ["fleet_ingest", "query_mix"]
END_TO_END = {"setup_s": "s", "op_s": "s", "first_stage_s": "s", "second_stage_s": "s"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("cannot locate the Spark jars (no SPARK_HOME, no unmanagedBase)")
    return m.group(1)


def _scalac(jars, classpath, out, sources):
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar") for p in ("compiler", "library", "reflect")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", out] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])


def build():
    """Compile the engine and PerfDriver once per source state; returns the classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BenchError("no engine sources under src/main/scala: run from the repository root")
    jars = spark_jars()
    jar_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    engine = sorted(glob.glob(os.path.join(engine_src, "**", "*.scala"), recursive=True))
    driver = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256(jar_cp.encode())
    for p in engine + driver + sorted(glob.glob(os.path.join(resources, "**"), recursive=True)):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes, driver_out = os.path.join(BUILD, "classes"), os.path.join(BUILD, "driver")
    cp = ":".join([driver_out, classes, jar_cp])
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    log("compiling the engine and PerfDriver")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(driver_out)
    _scalac(jars, jar_cp, classes, engine)
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    _scalac(jars, classes + ":" + jar_cp, driver_out, driver)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


# ------------------------------------------------------------------ JVM

def java_cmd(cp, workload, opts):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
               f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.PerfDriver", workload]
            + [f"{k}={v}" for k, v in opts.items()])


def run_jvm(cp, workload, opts, deadline, log_path):
    """Run PerfDriver; returns seconds from launch to READY."""
    with open(log_path, "ab") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(java_cmd(cp, workload, opts), stdout=subprocess.PIPE, stderr=err,
                             cwd=WORK)
        killer = threading.Timer(max(1.0, deadline - t0), p.kill)
        killer.start()
        ready = None
        try:
            for line in p.stdout:
                if line.strip() == b"READY" and ready is None:
                    ready = time.monotonic() - t0
            p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if time.monotonic() >= deadline:
        raise BenchError(f"{workload} JVM exceeded the run deadline")
    if p.returncode != 0 or ready is None:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{workload} JVM failed (exit {p.returncode}); log tail:\n{tail}")
    return ready


# ------------------------------------------------------------------ inputs

def prepare(workload, seed, wdir):
    """Generate the workload's inputs from the seed; returns PerfDriver's options."""
    if workload == "query_mix":
        data = os.path.join(wdir, "data")
        gen_tables.write_tables(seed, QUERY_SF, data)
        results = os.path.join(wdir, "results")
        os.makedirs(results)
        return {"data": data, "results": results, "passes": QUERY_PASSES,
                "scan": ",".join(SCAN_CLASS), "loop": ",".join(LOOP_CLASS)}
    stage = os.path.join(wdir, "stage")
    hours = FLEET["history"] + FLEET["invocations"]
    gen_can.write_objects(seed, FLEET["devices"], hours, stage)
    with open(os.path.join(wdir, "truth.json"), "w") as f:
        json.dump(gen_can.truth(seed, FLEET["devices"], hours), f)
    return {"stage": stage, "history": FLEET["history"],
            "raw": os.path.join(wdir, "raw"), "work": os.path.join(wdir, "work"),
            "replay": os.path.join(wdir, "replay")}


# ------------------------------------------------------------------ metrics

def e2e_metrics(workload, out, setup):
    if workload == "query_mix":
        ops = out["passes"]
        op, first, second = ([p[k] for p in ops] for k in ("pass_s", "scan_s", "loop_s"))
    else:
        ops = out["invocations"]
        op, first, second = ([i[k] for i in ops] for k in ("freshness_s", "parse_s", "infer_s"))
    samples = {"setup_s": [setup], "op_s": op, "first_stage_s": first, "second_stage_s": second}
    return {k: stats.median(v) for k, v in samples.items()}, samples


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    try:
        cp = build()
        deadline = time.monotonic() + DEADLINE_S  # the first run's build has its own allowance
        wdir = os.path.join(WORK, args.workload)
        shutil.rmtree(wdir, ignore_errors=True)
        os.makedirs(wdir)
        opts = prepare(args.workload, args.seed, wdir)
        jlog = os.path.join(wdir, "jvm.log")
        out_path = os.path.join(wdir, "out.json")
        setup = run_jvm(cp, args.workload,
                        dict(opts, out=out_path, trace=args.trace),
                        deadline, jlog)
        with open(out_path) as f:
            out = json.load(f)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        return 2

    if args.workload == "query_mix":
        mismatches = gates.oracle_errors(opts["data"], opts["results"], SCAN_CLASS + LOOP_CLASS,
                                         os.path.join(WORK, "tmp"))
        threw = out["failed"]  # one entry per execution that raised
        problems = [f"{n}: raised" for n in threw] + [f"{n}: {why}" for n, why in mismatches.items()]
        attempted = (len(out["passes"]) + 1) * len(SCAN_CLASS + LOOP_CLASS)
        failed = len(threw) + len(set(mismatches) - set(threw))
    else:
        with open(os.path.join(wdir, "truth.json")) as f:
            problems = gates.pipeline_errors(opts["work"], json.load(f))
        attempted = len(out["invocations"]) + 1  # the backlog drain is an operation too
        failed = 1 if problems else 0  # the gate checks the state the last invocation left
    for p in problems:
        log(f"correctness: {p}")

    values, samples = e2e_metrics(args.workload, out, setup)
    summary = {k: {"median": values[k], "n": len(v), "max": max(v)} for k, v in samples.items()}
    log(f"{args.workload} seed={args.seed}: " + json.dumps(summary))
    result_path = os.path.join(WORK, f"last_untraced_{args.workload}.json")
    if args.trace:
        metrics = layers.per_layer(args.workload, out, SCAN_CLASS, LOOP_CLASS)
        layers.write_trace(os.path.join(WORK, "traces"), args, out, metrics, values, result_path)
        units = layers.UNITS
    else:
        metrics = values
        units = END_TO_END
        with open(result_path, "w") as f:
            json.dump({"seed": args.seed, "metrics": values}, f)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
