"""Per-layer metrics of a traced run, and the trace file.

Pipeline layers come from the spans around each timed Jobs call and around
its replay (see PerfDriver.traceInvocation); the value reported is the
median over the run's invocations. Query layers come from the construct
(Q.run) and exec (noop write) spans of each query; per pass they are summed
over the class, and the median over passes is reported. A layer that does
not run in a workload reports 0.
"""
import json
import os
import sys
import time

import stats

PIPELINE = {  # name -> unit
    **{f"jobs.{c}.{m}": u for c in ("parse", "infer") for m, u in (
        ("spark_jobs", "count"), ("tasks", "count"), ("task_busy_ms", "ms"), ("task_cpu_ms", "ms"),
        ("driver_only_ms", "ms"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "stream.batches": "count", "stream.nodata_batch_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.log_commit_ms": "ms", "stream.start_stop_ms": "ms",
    "state.rows_total": "count", "state.rows_removed": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "ckpt.bytes": "bytes", "ckpt.files": "count",
    "ckpt.offset_entry_bytes": "bytes",
    "decode.ms": "ms", "decode.bytes_read": "bytes", "decode.frames_out": "count",
    "decode.parallelism": "cores",
    "pivot.self_ms": "ms", "pivot.shuffle_bytes": "bytes", "channelize.self_ms": "ms",
    "stationary.self_ms": "ms", "autopilot.self_ms": "ms",
    "merge.ms": "ms", "merge.bytes_rewritten": "bytes", "merge.write_amp": "ratio",
    "landing_docs.written": "count", "landing_docs.write_ms": "ms", "landing.read_ms": "ms",
    "landing.rows_read": "count", "event_docs.write_ms": "ms", "event_docs.rewritten": "count",
    "infer.rescan_ratio": "ratio", "infer.rewrite_ratio": "ratio",
    "backfill.parse_ms": "ms", "backfill.infer_ms": "ms", "backfill.raw_mb_per_s": "MB/s",
}
QUERY = {
    "loop.construct_ms": "ms", "loop.construct_jobs": "count", "loop.driver_only_ms": "ms",
    "loop.jobs": "count", "loop.cached_left": "count", "loop.shuffle_bytes": "bytes",
    "loop.spill_bytes": "bytes",
    "scan.exec_ms": "ms", "scan.tasks": "count", "scan.task_busy_ms": "ms", "scan.task_cpu_ms": "ms",
    "scan.parallelism": "cores", "scan.shuffle_bytes": "bytes", "scan.peak_exec_mem_bytes": "bytes",
}
JVM = {"jvm.gc_ms": "ms", "jvm.heap_after_gc_mb": "MB", "jvm.peak_rss_mb": "MB"}
UNITS = {**PIPELINE, **QUERY, **JVM}


def _by_name(spans):
    """{(name, inv): span} with each span's self time attached."""
    selfs = stats.self_times(spans)
    out = {}
    for s in spans:
        out[(s["name"], s["inv"])] = dict(s, self_ms=selfs[s["id"]])
    return out


def _pipeline_invocation(inv, sp):
    k = inv["k"]
    c = lambda name, key: sp[(name, k)]["counters"].get(key, 0.0)  # noqa: E731
    own = lambda name: sp[(name, k)]["self_ms"]  # noqa: E731
    m = {f"jobs.{call}.{key}": c(f"jobs.{call}", key)
         for call in ("parse", "infer")
         for key in ("spark_jobs", "tasks", "task_busy_ms", "task_cpu_ms", "driver_only_ms",
                     "shuffle_bytes", "spill_bytes")}
    st = inv["stream"]
    m.update({f"stream.{key}": st[key] for key in (
        "batches", "nodata_batch_ms", "add_batch_ms", "planning_ms", "log_commit_ms", "start_stop_ms")})
    m.update({"state.rows_total": st["state_rows_total"], "state.rows_removed": st["state_rows_removed"],
              "state.memory_bytes": st["state_memory_bytes"], "state.commit_ms": st["state_commit_ms"]})
    m.update({f"ckpt.{key}": v for key, v in inv["ckpt"].items()})
    decode = sp[("decode", k)]
    m.update({"decode.ms": own("decode"), "decode.bytes_read": inv["decode"]["bytes_read"],
              "decode.frames_out": inv["decode"]["frames_out"],
              "decode.parallelism": decode["counters"]["task_busy_ms"] / max(decode["dur_ms"], 1e-9)})
    m.update({"pivot.self_ms": own("pivot"), "pivot.shuffle_bytes": c("pivot", "shuffle_bytes"),
              "channelize.self_ms": own("channelize"),
              "stationary.self_ms": own("stationaryIntervals"), "autopilot.self_ms": own("autopilot")})
    m.update({"merge.ms": own("upsert"), "merge.bytes_rewritten": inv["merge"]["bytes_rewritten"],
              "merge.write_amp": inv["merge"]["write_amp"]})
    land, ev = inv["landing"], inv["events"]
    m.update({"landing_docs.written": land["docs_written"],
              "landing_docs.write_ms": own("writeLandingDocs"),
              "landing.read_ms": own("readLanding"), "landing.rows_read": land["rows_read"],
              "event_docs.write_ms": own("writeStationaryDocs") + own("writeAutopilotDocs"),
              "event_docs.rewritten": ev["rewritten"],
              "infer.rescan_ratio": land["rows_read"] / max(1, land["docs_changed"]),
              "infer.rewrite_ratio": ev["rewritten"] / max(1, ev["changed"])})
    return m


def _query_pass(p, passes, sp, scan, loop):
    m = dict.fromkeys(QUERY, 0.0)
    for q in loop:
        con, ex = sp[(f"construct:{q}", p)], sp[(f"exec:{q}", p)]
        m["loop.construct_ms"] += con["dur_ms"]
        m["loop.construct_jobs"] += con["counters"]["spark_jobs"]
        for s in (con, ex):
            m["loop.driver_only_ms"] += s["counters"]["driver_only_ms"]
            m["loop.jobs"] += s["counters"]["spark_jobs"]
            m["loop.shuffle_bytes"] += s["counters"]["shuffle_bytes"]
            m["loop.spill_bytes"] += s["counters"]["spill_bytes"]
        m["loop.cached_left"] += passes[p]["cached_left"][q]
    for q in scan:
        ex = sp[(f"exec:{q}", p)]["counters"]
        m["scan.exec_ms"] += sp[(f"exec:{q}", p)]["dur_ms"]
        for key in ("tasks", "task_busy_ms", "task_cpu_ms", "shuffle_bytes"):
            m[f"scan.{key}"] += ex[key]
        m["scan.peak_exec_mem_bytes"] = max(m["scan.peak_exec_mem_bytes"], ex["peak_exec_mem_bytes"])
    m["scan.parallelism"] = m["scan.task_busy_ms"] / max(m["scan.exec_ms"], 1e-9)
    return m


def per_layer(workload, out, scan=None, loop=None):
    sp = _by_name(out["spans"])
    if workload == "query_mix":
        rows = [_query_pass(p, out["passes"], sp, scan, loop) for p in range(len(out["passes"]))]
        metrics = dict.fromkeys(PIPELINE, 0.0)
    else:
        rows = [_pipeline_invocation(inv, sp) for inv in out["invocations"]]
        metrics = dict.fromkeys(QUERY, 0.0)
        d = out["drain"]
        metrics.update({"backfill.parse_ms": d["parse_s"] * 1e3, "backfill.infer_ms": d["infer_s"] * 1e3,
                        "backfill.raw_mb_per_s": d["raw_bytes"] / 1e6 / d["parse_s"]})
    metrics.update({k: stats.median([r[k] for r in rows]) for k in rows[0]})
    metrics.update({f"jvm.{k}": v for k, v in out["jvm"].items()})
    return metrics


def write_trace(trace_dir, args, out, metrics, e2e, untraced_path):
    """Spans, per-layer metrics, traced end-to-end values and the tracing
    overhead (traced minus the last untraced run of the workload)."""
    overhead = None
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)["metrics"]
        overhead = {k: e2e[k] - base[k] for k in e2e if k in base}
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{args.workload}_seed{args.seed}_{int(time.time())}.json")
    doc = {"workload": args.workload, "seed": args.seed, "per_layer": metrics,
           "end_to_end_traced": e2e, "tracing_overhead": overhead,
           "operations": out.get("invocations") or out.get("passes"),
           "spans": list(_by_name(out["spans"]).values())}
    with open(path, "w") as f:
        json.dump(doc, f)
    print(f"[perfbench] trace written to {os.path.relpath(path)}; tracing overhead: {overhead}",
          file=sys.stderr)
    return path
