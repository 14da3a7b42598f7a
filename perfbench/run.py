"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the project and the
benchmark into `.bench_build/perfbench` (see build.py). Each run works in
its own scratch directory there, generates its inputs from the seed,
starts one JVM on `local[N]`, checks every output, and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or the
per-layer metrics (`--trace 1`). A wrong output prints `"correct": false`
and exits 1; a run that cannot start prints nothing and exits 2.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170

# Registry queries of query_floor: one or two cheap queries per family
# plus a streamed one, on near-empty tables, so fixed per-query cost
# (planning, scheduling, stream start/stop) dominates. No single query may
# be much slower than all others: its executions would be the slowest
# tenth of the samples, and the p90 latency would sit on the gap below it.
FLOOR = [
    "filter_project", "join_inner", "agg_conditional", "window_rank",
    "q1_pricing_summary", "string_funcs", "smt_transform", "avro_roundtrip",
    "avro_mixed_writers_streamed",
]
# Records per sink object: the reference sink closes an object every
# flush.size=3 records at its producer's 1 record/s, i.e. every 3 s of
# traffic; at the paced workload's 1000 records/s that is 3000 records.
RECORDS_PER_OBJECT = 3000

WORKLOADS = {
    # closed loop: the whole log drains as fast as the pipeline goes, in
    # `batches` micro-batches. Not a workload of BENCHMARK.json: its runs
    # spread past the bounds on a shared host (see README.md); the tests
    # run it small to check log bytes and the audit against the ledger
    "ingest_drain": {"cpus": 2, "records": 40000, "batches": 4, "warmup_s": 6,
                     "records_per_object": RECORDS_PER_OBJECT},
    # open loop: one generator thread offers `rate` records/s
    "ingest_paced": {"cpus": 3, "rate": 1000, "trigger_ms": 2000,
                     "records_per_object": RECORDS_PER_OBJECT},
    "query_floor": {"cpus": 2, "warmup_s": 8, "queries": FLOOR},
}

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def git_commit():
    """Commit of the tree being measured, when it is a git checkout."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def cpu_ticks():
    """Aggregate CPU tick counters of the host (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor took from this machine in between:
    a run measured while it was high ran on a slower host."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def run_jvm(classes, work, args, deadline):
    cp = os.pathsep.join([classes, os.path.join(build.jar_dir(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                 "perfbench.PerfBench"] + args
    env = dict(os.environ, SPARK_GRAFT_SIGNAL_DIR=os.path.join(work, "signals"),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("JVM run exceeded the time limit")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"JVM exited {p.returncode}:\n{tail}")


def oracle_check(corpus, raw):
    """Compare each registry output with its DuckDB oracle over the same
    tables; returns the list of mismatch messages."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    import check_oracle
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, out in sorted(raw.get("outputs", {}).items()):
        sql = raw["oracle_sql"].get(name)
        if sql is None:
            bad.append(f"{name}: no oracle")
            continue
        files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
        spark = pd.concat([pd.read_parquet(os.path.join(out, f)) for f in files],
                          ignore_index=True) if files else pd.DataFrame()
        try:
            duck = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            bad.append(f"{name}: oracle error {e}")
            continue
        sc, dc = check_oracle.canon(spark), check_oracle.canon(duck)
        if list(sc.columns) != list(dc.columns):
            bad.append(f"{name}: columns {list(sc.columns)} != {list(dc.columns)}")
        elif len(sc) != len(dc):
            bad.append(f"{name}: rows {len(sc)} != {len(dc)}")
        elif check_oracle.digest(sc) != check_oracle.digest(dc):
            bad.append(f"{name}: value hash mismatch")
    return bad


def end_to_end(raw):
    lat = raw["latency_samples"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "latency_p50_ms": lat["p50_ms"],
        "latency_p90_ms": lat["p90_ms"],
        "throughput_per_s": raw["throughput_per_s"],
        "peak_heap_mb": raw["peak_heap_mb"],
    }


def per_layer(raw, names):
    layers = dict(raw.get("layers", {}))
    layers["failed_frac"] = raw["failed"] / max(1, raw["attempted"])
    # a layer the workload does not exercise reads 0
    return {n: float(layers.get(n, 0.0) or 0.0) for n in names}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    try:
        sp = spec()
        classes = build.build(BUILD_DIR)
    except (OSError, ValueError, build.BuildError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    # the first run in a checkout may spend its time compiling
    deadline = max(deadline, time.monotonic() + 150)
    w = WORKLOADS[a.workload]
    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(work, "result.json"),
                "--cpus", str(min(w["cpus"], os.cpu_count() or 1))]
        corpus = None
        if "queries" in w:
            # copy 0 serves the check pass, copies 1-3 the set-up repetitions
            corpus = os.path.join(work, "corpus")
            for k in range(4):
                gen_tables.write(f"{corpus}_r{k}", a.seed, 1)
            args += ["--data", corpus, "--queries", ",".join(w["queries"])]
        for k in ("records", "batches", "rate", "trigger_ms", "records_per_object",
                  "warmup_s"):
            if k in w:
                args += [f"--{k}", str(w[k])]
        ticks = cpu_ticks()
        run_jvm(classes, work, args, deadline)
        steal = steal_frac(ticks, cpu_ticks())
        with open(os.path.join(work, "result.json")) as fh:
            raw = json.load(fh)
        failures = list(raw["failures"])
        attempted = raw["attempted"]
        if corpus is not None:
            mismatches = oracle_check(corpus + "_r0", raw)
            attempted += len(raw.get("outputs", {}))
            failures += mismatches
        raw["attempted"] = attempted
        raw["failed"] = raw["failed_ops"] + len(failures) - len(raw["failures"])
        if a.trace:
            names = [m["name"] for m in sp["per_layer"]]
            values = per_layer(raw, names)
            units = {m["name"]: m["unit"] for m in sp["per_layer"]}
            trace_dir = os.path.join(BUILD_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "spans": raw["spans"],
                           "layers": raw.get("layers", {})}, fh)
        else:
            values = end_to_end(raw)
            units = {m["name"]: m["unit"] for m in sp["end_to_end"]}
        for f in failures[:20]:
            print(f"FAILED: {f}", file=sys.stderr)
        correct = not failures and all(
            isinstance(v, (int, float)) and v == v for v in values.values())
        prov = dict(raw.get("provenance", {}), commit=git_commit(), nproc=os.cpu_count(),
                    steal_frac=steal, workload_config={k: v for k, v in w.items()
                                                       if k != "queries"})
        print(json.dumps({"provenance": prov}), file=sys.stderr)
        print(json.dumps({
            "correct": correct, "attempted": int(attempted), "failed": int(raw["failed"]),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }))
        return 0 if correct else 1
    except RuntimeError as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
