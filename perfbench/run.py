#!/usr/bin/env python3
"""Layered benchmark of graft's SparkEntry keys at sf0.1.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Builds graft and the harness from source on first use (perfbench/build.sh,
output under .bench_build/), runs one JVM that sets the session up once
and then runs passes over the workload's keys in a seed-permuted order,
checks every key's output against SparkEntry.oracleSql replayed in DuckDB,
and prints one JSON line: end-to-end metrics (CPU time of the JVM less its
JIT compiler threads, and set-up wall time) with --trace 0, per-layer
metrics with --trace 1. The full artifact (per-key first-call and warm
times, wall and CPU, quartiles, run metadata) goes to
.bench_build/perfbench/results/<workload>-seed<seed>-trace<trace>.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

CPUS = os.cpu_count() or 1
HEAP = "4g"

# Each workload's keys, and how many passes follow the cold pass 0: warm-up
# passes (unmeasured) and at least `measured` measured ones. The seed
# permutes the key order of every warm pass. The counts are sized so that
# they, not --seconds, end a run on a 4-core host: every run then follows
# the same JIT warm-up, and each warm pass costs about the same.
WORKLOADS = {
    "batch": {
        "keys": ["q5_nation_revenue", "q16_asof_join", "s1_ann_brute", "s2_ann_lsh",
                 "s3_ann_ivf", "d1_dedup_exact", "t6_normalize", "c48_license_gate",
                 "m9_image_phash"],
        "warmup": 0, "measured": 3,
    },
    "commit_loop": {
        "keys": ["q67_tx_merge", "st24_license_stream"],
        "warmup": 2, "measured": 4,
    },
}

# The graft module each key calls; op.<module>_s sums key wall time by it.
MODULES = ["Relational", "TimeJoins", "Similarity", "Dedup", "TextOps", "Curation",
           "Multimodal", "TxTable", "StreamDrivers"]
KEY_MODULE = {
    "q5_nation_revenue": "Relational", "q16_asof_join": "TimeJoins",
    "s1_ann_brute": "Similarity", "s2_ann_lsh": "Similarity", "s3_ann_ivf": "Similarity",
    "d1_dedup_exact": "Dedup", "t6_normalize": "TextOps", "c48_license_gate": "Curation",
    "m9_image_phash": "Multimodal",
    "q67_tx_merge": "TxTable", "st24_license_stream": "StreamDrivers",
}

# Approximate top-k keys scored against the exact s1_ann_brute answer.
ANN_REFERENCE = "s1_ann_brute"
ANN_KEYS = ["s2_ann_lsh", "s3_ann_ivf"]
RECALL_K = 5

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads: graft's sources and the harness."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/src", "perfbench/build.sh"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD], cwd=ROOT,
                       stdout=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def cpu_jiffies():
    """(steal, total) CPU time of the whole machine from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


class LoadSampler:
    """1-minute load average at start, end and peak of the run, and the share
    of CPU time the hypervisor stole during it (recorded only)."""

    def __init__(self):
        self.start = self.peak = os.getloadavg()[0]
        self.end = self.start
        self._jiffies = cpu_jiffies()
        self.steal_share = None
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self):
        while not self._stop.wait(1.0):
            self.peak = max(self.peak, os.getloadavg()[0])

    def stop(self):
        if self._stop.is_set():
            return
        self._stop.set()
        self._t.join()
        self.end = os.getloadavg()[0]
        self.peak = max(self.peak, self.end)
        now = cpu_jiffies()
        if now and self._jiffies and now[1] > self._jiffies[1]:
            self.steal_share = (now[0] - self._jiffies[0]) / (now[1] - self._jiffies[1])


def run_jvm(args, out):
    cp = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(SPARK_JARS, "*")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    w = WORKLOADS[args.workload]
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness",
            "--data", DATA, "--out", out,
            "--keys", ",".join(w["keys"]),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--cpus", str(CPUS), "--warmup", str(w["warmup"]),
            "--min-warm", str(w["measured"]), "--spawn-epoch-ns", str(time.time_ns())]
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = p.wait()
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if code != 0:
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {code}")
    with open(os.path.join(out, "records.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_problem(mine, ref):
    """None when the frames are equal after sorting columns and rows, with
    matching dtype kinds (the rule of tools/check_oracle.py); else why not."""
    import pandas as pd
    if sorted(mine.columns) != sorted(ref.columns):
        return f"columns differ: {sorted(mine.columns)} vs {sorted(ref.columns)}"
    if len(mine) != len(ref):
        return f"row count {len(mine)} vs oracle {len(ref)}"
    a, b = canon(mine), canon(ref)
    kind = {"i": "int", "u": "int", "b": "bool", "f": "float"}
    for c in a.columns:
        if kind.get(a[c].dtype.kind, a[c].dtype.kind) != kind.get(b[c].dtype.kind, b[c].dtype.kind):
            return f"{c}: dtype {a[c].dtype} vs oracle {b[c].dtype}"
        av, bv = a[c].values, b[c].values
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            bad = ~((pd.isna(av) & pd.isna(bv)) | (av == bv))
        else:
            bad = ~(a[c].fillna("<NA>") == b[c].fillna("<NA>")).values
        if bad.any():
            return f"{c}: {int(bad.sum())} values differ from the oracle"
    return None


def check_outputs(keys, oracle_sql, verify_dir):
    """Compares each key's pass-0 output with its DuckDB oracle.

    Returns ({key: problem} for keys that fail, {key: DataFrame} outputs).
    Keys without an oracle entry are checked for a readable output only.
    """
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    problems, outputs = {}, {}
    for k in keys:
        path = os.path.join(verify_dir, k)
        try:
            mine = pd.read_parquet(path)
        except Exception as e:  # missing or unreadable output
            problems[k] = f"no output: {type(e).__name__}"
            continue
        outputs[k] = mine
        if k not in oracle_sql:
            continue
        try:
            ref = con.sql(oracle_sql[k]).df()
        except Exception as e:
            problems[k] = f"oracle failed: {e}"
            continue
        problem = frame_problem(mine, ref)
        if problem:
            problems[k] = problem
    con.close()
    return problems, outputs


def recall_at_k(outputs):
    """recall@5 of each ANN key against s1_ann_brute, as exact fractions."""
    ref = outputs.get(ANN_REFERENCE)
    if ref is None:
        return {}
    truth = {}
    for q, n, r in zip(ref["q_id"], ref["neighbor_id"], ref["rank"]):
        if r <= RECALL_K:
            truth.setdefault(int(q), set()).add(int(n))
    out = {}
    for k in ANN_KEYS:
        df = outputs.get(k)
        if df is None:
            continue
        got = {}
        for q, n, r in zip(df["q_id"], df["neighbor_id"], df["rank"]):
            if r <= RECALL_K:
                got.setdefault(int(q), set()).add(int(n))
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        out[k] = hits / sum(len(v) for v in truth.values())
    return out


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return {"median": xs[0], "q1": xs[0], "q3": xs[0], "n": 1}
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": q2, "q1": q1, "q3": q3, "n": len(xs)}


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def summarize(args, records, digest, load):
    setup = next(r for r in records if r["type"] == "setup")
    meta = next(r for r in records if r["type"] == "meta")
    keys = [r for r in records if r["type"] == "key"]
    passes = [r for r in records if r["type"] == "pass"]
    for k in keys:
        k["wall_s"] = k["build_s"] + k["action_s"]

    def measured(r):
        # pass 0 is cold and the warm-up passes after it are not measured
        return r["pass"] > WORKLOADS[args.workload]["warmup"] and not r["traced"]

    untraced = [p for p in passes if measured(p)]
    traced = [p for p in passes if p["traced"]]
    names = WORKLOADS[args.workload]["keys"]

    per_key = {}
    for n in names:
        first = next(k for k in keys if k["key"] == n and k["pass"] == 0)
        warm = [k for k in keys if k["key"] == n and measured(k)]
        wall = quartiles([k["wall_s"] for k in warm])
        per_key[n] = {"first_s": first["wall_s"], "first_cpu_s": first["cpu_s"],
                      "warm": wall, "warm_cpu": quartiles([k["cpu_s"] for k in warm]),
                      "cold_ratio": first["wall_s"] / wall["median"]}
    cold_keys = sorted(n for n, v in per_key.items() if v["cold_ratio"] > 3)

    wall = quartiles([p["wall_s"] for p in untraced])
    cpu = quartiles([p["cpu_s"] for p in untraced])
    first_pass = passes[0]
    # CPU time of the JVM, not wall time: on a shared VM the hypervisor
    # steals a varying share of the vCPUs, which moves wall time by far more
    # than any bound and the CPU time of the same work far less
    end_to_end = {
        "pass_cpu_s": (cpu["median"], "s"),
        "key_cpu_geomean_s": (geomean(per_key[n]["warm_cpu"]["median"] for n in names), "s"),
        "first_pass_cpu_s": (first_pass["cpu_s"], "s"),
        "setup_s": (setup["seconds"], "s"),
    }

    verify_dir = os.path.join(args.out, "verify")
    problems, outputs = check_outputs(names, meta["oracle_sql"], verify_dir)
    for k in keys:
        if not k["ok"]:
            problems.setdefault(k["key"], k["error"])
    attempted = len(keys)
    failed = sum(1 for k in keys if not k["ok"]) + sum(
        1 for n in problems if all(k["ok"] for k in keys if k["key"] == n))
    recall = recall_at_k(outputs)

    per_layer = layer_metrics(keys, traced, untraced, recall, first_pass["wall_s"]) \
        if args.trace else {}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "meta": {
            "nproc": CPUS, "master": meta["master"],
            "shuffle_partitions": meta["shuffle_partitions"],
            "driver_heap_mb": meta["driver_heap_mb"], "spark_version": meta["spark_version"],
            "git_commit": git_commit(), "source_digest": digest,
            "load_avg_1m": {"start": load.start, "end": load.end, "peak": load.peak},
            "cpu_steal_share": load.steal_share,
            "data": "perfbench/data/sf0.1",
        },
        "end_to_end": {
            "pass_cpu_s": cpu, "wall_s": wall,
            "geomean_key_s": geomean(per_key[n]["warm"]["median"] for n in names),
            "first_pass_s": first_pass["wall_s"], "first_pass_cpu_s": first_pass["cpu_s"],
            "setup_s": setup["seconds"], "setup_cpu_s": setup["cpu_s"],
            "failed_ratio": failed / attempted,
            "retained_mb": quartiles([sum(k["mb_left"] for k in keys if k["pass"] == p["pass"])
                                      for p in passes]),
        },
        "per_key": per_key,
        "cold_keys_over_3x": cold_keys,
        "ann_recall_at_5": recall,
        "problems": problems,
        "passes": passes,
        "per_layer": per_layer,
    }
    if args.trace:
        # driver.self_s is key wall minus sched.job_busy_s, so the two sum to
        # the traced pass wall: this tests tracing overhead and run noise,
        # not how the time is attributed
        ratio = statistics.median(p["wall_s"] for p in traced) / wall["median"]
        artifact["reconciliation"] = {"accounted_ratio": ratio,
                                      "within_10pct": abs(ratio - 1) <= 0.10}
    metrics = per_layer if args.trace else end_to_end
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
    return artifact, result


def layer_metrics(keys, traced, untraced, recall, first_pass):
    """Per-layer metrics of the traced passes: per-pass sums, median over passes."""
    tk = [k for k in keys if k["traced"]]
    by_pass = {}
    for k in tk:
        by_pass.setdefault(k["pass"], []).append(k)

    def med(f):
        return statistics.median(f(ks) for ks in by_pass.values())

    def total(name, ks, pred=lambda k: True):
        return sum(k.get(name, 0.0) for k in ks if pred(k))

    def stream_key(k):
        return k.get("stream.batches", 0) > 0

    def tx_key(k):
        return k.get("tx.commits", 0) > 0

    m = {}
    counters = {
        "plan.queries": "count", "plan.analysis_s": "s", "plan.optimization_s": "s",
        "plan.planning_s": "s", "sched.jobs": "count", "sched.stages": "count",
        "sched.tasks": "count", "sched.job_busy_s": "s", "sched.task_s": "s",
        "sched.task_cpu_s": "s", "sched.task_gc_s": "s", "sched.task_wait_s": "s",
        "sched.failed_tasks": "count", "driver.self_s": "s", "scan.input_mb": "MB",
        "scan.input_rows": "count", "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
        "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB", "key.build_s": "s",
        "key.action_s": "s", "stage.rdds_left": "count", "stage.mb_left": "MB",
        "tx.commits": "count", "tx.data_files_written": "count",
        "tx.data_mb_written": "MB", "tx.log_kb_written": "KB",
        "stream.batches": "count", "stream.input_rows": "count", "stream.trigger_s": "s",
        "stream.add_batch_s": "s", "stream.query_planning_s": "s",
        "stream.get_batch_s": "s", "stream.wal_commit_s": "s",
    }
    for name, unit in counters.items():
        src = {"key.build_s": "build_s", "key.action_s": "action_s",
               "stage.rdds_left": "rdds_left", "stage.mb_left": "mb_left"}.get(name, name)
        m[name] = (med(lambda ks: total(src, ks)), unit)
    m["driver.jobs_per_key"] = (med(lambda ks: total("sched.jobs", ks) / len(ks)), "jobs/key")
    m["tx.jobs_per_commit"] = (med(lambda ks: total("sched.jobs", ks, tx_key)
                                   / max(1, total("tx.commits", ks))), "jobs/commit")
    m["tx.commit_phase_s"] = (med(lambda ks: total("build_s", ks, tx_key)), "s")
    m["tx.read_phase_s"] = (med(lambda ks: total("action_s", ks, tx_key)), "s")
    m["stream.jobs_per_batch"] = (med(lambda ks: total("stream.jobs", ks)
                                      / max(1, total("stream.batches", ks))), "jobs/batch")
    m["stream.outside_trigger_s"] = (med(lambda ks: total("build_s", ks, stream_key)
                                         - total("stream.trigger_s", ks)), "s")
    for mod in MODULES:
        m[f"op.{mod}_s"] = (med(lambda ks: total(
            "wall_s", ks, lambda k: KEY_MODULE.get(k["key"]) == mod)), "s")
    for k in ANN_KEYS:
        m[f"ann.{k}.recall_at_5"] = (recall.get(k, 0.0), "fraction")
    m["ann.recall_at_5"] = (statistics.fmean(recall.values()) if recall else 0.0, "fraction")
    m["jvm.gc_s"] = (statistics.median(p["gc_s"] for p in traced), "s")
    m["jvm.heap_peak_mb"] = (statistics.median(p["heap_peak_mb"] for p in traced), "MB")
    m["jvm.jit_cpu_s"] = (statistics.median(p["jit_s"] for p in traced), "s")
    m["key.first_pass_s"] = (first_pass, "s")
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    untraced_wall = statistics.median(p["wall_s"] for p in untraced)
    m["pass.wall_s"] = (untraced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for t in TABLES:
        if not os.path.isfile(os.path.join(DATA, f"{t}.parquet")):
            fail(f"missing table {t} under {DATA}")
    digest = build()

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    args.out = os.path.join(BUILD, "runs", run_id)
    results = os.path.join(BUILD, "results")
    shutil.rmtree(args.out, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    load = LoadSampler()
    stage_root = None
    try:
        t0 = time.monotonic()
        records = run_jvm(args, args.out)
        jvm_s = time.monotonic() - t0
        load.stop()
        stage_root = next(r["stage_root"] for r in records if r["type"] == "meta")
        artifact, result = summarize(args, records, digest, load)
        artifact["harness_s"] = {"jvm": jvm_s, "check": time.monotonic() - t0 - jvm_s}
    finally:
        load.stop()
        # graft stages side tables under a fixed root derived from the data
        # path (SparkEntry.stageDir); remove this checkout's root
        if stage_root and "graft-stage" in stage_root:
            shutil.rmtree(stage_root, ignore_errors=True)
        shutil.rmtree(args.out, ignore_errors=True)
    with open(os.path.join(results, run_id + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
