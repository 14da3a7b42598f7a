"""Per-layer table of traced benchmark runs.

    python3 perfbench/trace_summary.py [TRACE.json ...]

Reads the span files traced runs (`run.py --trace 1`) leave in
`.bench_build/perfbench/traces/` (all of them when no file is given) and
prints, per workload, one row per layer: span count, total span time and
self time. A span's self time is its duration minus the part of it that
its child spans cover, so a layer's self time is the time spent in calls
into that layer and not in a nested layer's calls. The last line of each
table is the run's `trace.overhead_frac` (traced against untraced work in
the same run).
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACES = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "traces")


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> self time in ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered(
            [k for k in kids if k[1] > k[0]])
    return out


def layer_table(spans):
    selfs = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["layer"], [0, 0, 0])
        r[0] += 1
        r[1] += s["end_ns"] - s["start_ns"]
        r[2] += selfs[s["id"]]
    return rows


def summarize(path):
    t = json.load(open(path))
    rows = layer_table(t["spans"])
    total_self = sum(r[2] for r in rows.values()) or 1
    lines = [f"{t['workload']} (seed {t['seed']})",
             f"  {'layer':<12}{'spans':>8}{'total_s':>12}{'self_s':>12}{'self_share':>12}"]
    for layer, (n, tot, slf) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"  {layer:<12}{n:>8}{tot / 1e9:>12.3f}{slf / 1e9:>12.3f}"
                     f"{slf / total_self:>12.3f}")
    ovh = t.get("layers", {}).get("trace.overhead_frac")
    if ovh is not None:
        lines.append(f"  trace.overhead_frac {ovh:.4f}")
    return "\n".join(lines)


def main(paths):
    paths = paths or sorted(glob.glob(os.path.join(TRACES, "*.json")))
    if not paths:
        print("no trace files; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    print("\n\n".join(summarize(p) for p in paths))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
