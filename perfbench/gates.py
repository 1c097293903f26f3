"""Correctness gates, run after the timed region.

Pipeline workloads: the event documents on disk must equal the generator's
ground truth, and each landing document must hold exactly the frames the
generator wrote for its hour. query_mix: each query's result must equal its
DuckDB oracle, canonicalized by the repo's oracle checker (tools/check.py:
columns by name, rows by a type-stable key, int and float never equal).
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import check  # noqa: E402  the repo's oracle checker: canon and cells_equal


def _docs(root):
    out = {}
    for p in glob.glob(os.path.join(root, "*", "*.json")):
        with open(p) as f:
            out[os.path.relpath(p, root)] = json.loads(f.read())
    return out


def pipeline_errors(work, expected):
    """Mismatches between the documents under `work` and the truth."""
    errors = []

    def compare(kind, got, want):
        if sorted(got) != sorted(want):
            errors.append(f"{kind}: documents {sorted(set(got) ^ set(want))[:4]} differ in presence")
        for name in sorted(set(got) & set(want)):
            if got[name] != want[name]:
                errors.append(f"{kind}: {name} differs")

    stationary = {n: [[iv["start"], iv["end"]] for iv in d["IMU-telematics"]["stationary-state"]]
                  for n, d in _docs(os.path.join(work, "events", "Stationary")).items()}
    compare("stationary", stationary, expected["stationary"])
    autopilot = {n: {status: [[e["timestamp"], e["canbus_state"]] for e in events]
                     for status, events in d["auditory"].items()}
                 for n, d in _docs(os.path.join(work, "events", "Autopilot")).items()}
    compare("autopilot", autopilot, expected["autopilot"])
    landing = {n: {ch: len(d.get(ch) or []) for ch in ("accel", "gyro", "location", "speed", "ap_status")}
               for n, d in _docs(os.path.join(work, "landing_json")).items()}
    compare("landing", landing, expected["landing"])
    return errors


def _canon(cur):
    return check.canon(cur.fetchall(), [d[0] for d in cur.description])


def oracle_errors(data_dir, results_dir, names, tmp_dir):
    """{query: reason} for every query whose result differs from its oracle."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    errors = {}
    for name in names:
        if name not in oracle:
            errors[name] = "no oracle SQL"
            continue
        try:
            wcols, want = _canon(con.execute(oracle[name]))
            gcols, got = _canon(con.execute(f"SELECT * FROM '{results_dir}/{name}/*.parquet'"))
        except duckdb.Error as e:
            errors[name] = f"error: {e}"
            continue
        if wcols != gcols:
            errors[name] = f"columns {gcols} != {wcols}"
        elif len(want) != len(got):
            errors[name] = f"{len(got)} rows != {len(want)}"
        elif not all(check.cells_equal(a, b) for rw, rg in zip(want, got) for a, b in zip(rw, rg)):
            errors[name] = "cell mismatch"
    con.close()
    return errors
