"""Run sets of benchmark runs and compare them.

    # one set: every workload of BENCHMARK.json, one run per seed
    python3 perfbench/compare.py collect --out a.jsonl --seeds 1-10 [--workload W]

    # the spread of each end-to-end metric in a set, against its bound
    python3 perfbench/compare.py spread a.jsonl

    # parent vs change: alternating pairs, two checkouts, same seed per pair
    python3 perfbench/compare.py pairs --parent DIR --change DIR --out p.jsonl \
        --seeds 101-110 [--workload W]
    python3 perfbench/compare.py report p.jsonl

`report` prints one row per workload. A metric reads "gain" when the change
won at least 9 of 10 pairs (ties count for neither side) and the medians
differ by more than the parent's interquartile range; "worse" when the
change's median is worse than the parent's by more than the metric's
bound; "unresolved" when either side's spread (IQR / median) exceeds the
bound, unless every change run beats every parent run; else "same".
Ratios are change median / parent median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec(root=ROOT):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(root, workload, seed, seconds, trace=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    prov = [json.loads(l)["provenance"] for l in p.stderr.splitlines()
            if l.startswith('{"provenance"')]
    return {"workload": workload, "seed": seed, "exit": p.returncode, "result": result,
            "wall_s": time.monotonic() - t0, "provenance": prov[-1] if prov else None,
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(rows, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in rows
            if r["workload"] == workload and r["result"] and r["result"]["correct"]]


def cmd_collect(a):
    sp = spec()
    names = [a.workload] if a.workload else [w["name"] for w in sp["workloads"]]
    with open(a.out, "a") as out:
        for w in names:
            for s in seeds(a.seeds):
                row = run_once(ROOT, w, s, sp["run_seconds"], a.trace)
                out.write(json.dumps(row) + "\n")
                out.flush()
                print(w, s, "exit", row["exit"], file=sys.stderr)


def cmd_spread(a):
    sp = spec()
    rows = [json.loads(l) for l in open(a.file)]
    ok = True
    for w in sorted({r["workload"] for r in rows}):
        bad = [r for r in rows if r["workload"] == w and
               not (r["result"] and r["result"]["correct"])]
        walls = [r["wall_s"] for r in rows if r["workload"] == w and "wall_s" in r]
        steals = [r["provenance"]["steal_frac"] for r in rows if r["workload"] == w
                  and (r.get("provenance") or {}).get("steal_frac") is not None]
        print(f"{w}: {sum(r['workload'] == w for r in rows)} runs, {len(bad)} not correct"
              + (f", {statistics.mean(walls):.1f} s per run" if walls else "")
              + (f", host steal {min(steals):.2f}-{max(steals):.2f}" if steals else ""))
        ok &= not bad
        for m in sp["end_to_end"]:
            xs = values(rows, w, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ("ok" if spread < m["bound"] / 3 else
                    "WITHIN BOUND" if spread <= m["bound"] else "OVER BOUND")
            if flag == "OVER BOUND":
                ok = False
            print(f"  {m['name']:<18} median {med:12.4f} {m['unit']:<5} "
                  f"spread {spread:6.3f} (bound {m['bound']}) {flag}")
    return 0 if ok else 1


def cmd_pairs(a):
    sp = spec(a.parent)
    names = [a.workload] if a.workload else [w["name"] for w in sp["workloads"]]
    with open(a.out, "a") as out:
        for w in names:
            for i, s in enumerate(seeds(a.seeds)):
                sides = [("parent", a.parent), ("change", a.change)]
                if i % 2:
                    sides.reverse()
                for side, root in sides:
                    row = run_once(root, w, s, sp["run_seconds"])
                    row["side"] = side
                    out.write(json.dumps(row) + "\n")
                    out.flush()
                    print(w, s, side, "exit", row["exit"], file=sys.stderr)


def verdict(m, parent, change, wins, pairs):
    better = (lambda c, p: c < p) if m["better"] == "lower" else (lambda c, p: c > p)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    ratio = cmed / pmed if pmed else float("inf")
    worse_by = (cmed - pmed) / pmed if m["better"] == "lower" else (pmed - cmed) / pmed
    if pairs and wins >= 0.9 * pairs and abs(cmed - pmed) > (pq3 - pq1) and better(cmed, pmed):
        return "gain", ratio
    spread = max((pq3 - pq1) / pmed if pmed else 0, (cq3 - cq1) / cmed if cmed else 0)
    dominates = all(better(c, p) for c in change for p in parent)
    if spread > m["bound"] and not dominates:
        return "unresolved", ratio
    if worse_by > m["bound"]:
        return "worse", ratio
    return "same", ratio


def cmd_report(a):
    sp = spec()
    rows = [json.loads(l) for l in open(a.file)]
    metrics = sp["end_to_end"]
    print("workload".ljust(16) + "".join(m["name"].rjust(24) for m in metrics))
    for w in sorted({r["workload"] for r in rows}):
        by_seed = {}
        for r in rows:
            if r["workload"] == w:
                by_seed.setdefault(r["seed"], {})[r["side"]] = r
        cells = []
        for m in metrics:
            p_vals, c_vals, wins, pairs = [], [], 0, 0
            for pair in by_seed.values():
                p, c = pair.get("parent"), pair.get("change")
                if not (p and c and p["result"] and c["result"]):
                    continue
                if not (p["result"]["correct"] and c["result"]["correct"]):
                    continue
                pv = p["result"]["metrics"][m["name"]]["value"]
                cv = c["result"]["metrics"][m["name"]]["value"]
                p_vals.append(pv)
                c_vals.append(cv)
                pairs += 1
                if (cv < pv) if m["better"] == "lower" else (cv > pv):
                    wins += 1
            if not pairs:
                cells.append("no pairs")
                continue
            v, ratio = verdict(m, p_vals, c_vals, wins, pairs)
            cells.append(f"{v} {ratio:.3f} ({wins}/{pairs})")
        print(w.ljust(16) + "".join(c.rjust(24) for c in cells))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workload")
    c.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("spread")
    s.add_argument("file")
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", default="101-110")
    p.add_argument("--workload")
    r = sub.add_parser("report")
    r.add_argument("file")
    a = ap.parse_args()
    return {"collect": cmd_collect, "spread": cmd_spread, "pairs": cmd_pairs,
            "report": cmd_report}[a.cmd](a) or 0


if __name__ == "__main__":
    sys.exit(main())
