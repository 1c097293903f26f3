"""Summary helpers shared by the benchmark and its tests.

    python3 perfbench/stats.py result.json...

prints, per metric, the median and spread of the result lines of several
runs (each file holds the JSON line run.py printed last).
"""
import json
import statistics
import sys


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, q3) as statistics.quantiles(values, n=4) gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def self_times(spans):
    """{span id: duration minus the part of its interval its children cover}.

    Spans are dicts with id, parent, start_ms, end_ms and dur_ms. Children may
    overlap; their union is what gets subtracted, clipped to the parent.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in children.get(s["id"], []))
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s["id"]] = max(0.0, s["dur_ms"] - covered)
    return out


def main(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append(json.loads(f.read().strip().splitlines()[-1])["metrics"])
    for name in runs[0]:
        values = [r[name]["value"] for r in runs]
        line = f"{name}: median {median(values):.4g} {runs[0][name]['unit']}"
        if len(values) > 1:
            line += f", spread {spread(values):.3f} over {len(values)} runs"
        print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
