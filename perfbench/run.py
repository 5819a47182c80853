#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the harness
JVM on `local[nproc]` with a fixed heap and a private java.io.tmpdir,
checks every output (perfbench/verify.py), and prints the run context on
one line and the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
computed from untraced passes; with --trace 1 they are the per-layer
metrics. The harness's raw result (and, traced, its spans) is kept in
<build dir>/runs/; the build dir is $CARGO_TARGET_DIR, or .bench_build.
Exits 1 when any check fails.
"""
import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import verify  # noqa: E402

HEAP = "2g"
SETUPS = 3
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Inclusive quantile (q in (0,1)) of a sample; 0 for no samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def context(cores, stamp):
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True)
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        sha = r.stdout.strip() or None
    spark = [j for j in os.listdir(build.spark_jars())
             if j.startswith("spark-core_")]
    return {
        "nproc": cores, "heap": HEAP, "master": f"local[{cores}]",
        "jdk": (java.stderr.splitlines() or ["?"])[0],
        "spark": spark[0][len("spark-core_"):-len(".jar")] if spark else "?",
        "git_sha": sha, "source_sha256": stamp, "python": platform.python_version(),
    }


# ------------------------------------------------------------- metrics

def pass_sums(ops, traced, first=0):
    """Seconds of timed work per pass from pass `first` on (untimed
    checks and the first-touch pass, numbered -1, excluded)."""
    by = {}
    for o in ops:
        if o["traced"] == traced and o["pass"] >= first:
            by[o["pass"]] = by.get(o["pass"], 0.0) + o["ms"] / 1e3
    return list(by.values())


def end_to_end(res):
    ops = [o for o in res["ops"] if not o["traced"] and o["pass"] >= 0]
    groups, repeats, seen = {}, {}, {}
    for o in ops:
        groups.setdefault((o["kind"], o["name"]), []).append(o["ms"])
        # the k-th call of a kind and name within its pass is one
        # operation of the pass; its time is its median over the passes
        k = (o["pass"], o["kind"], o["name"])
        seen[k] = seen.get(k, 0) + 1
        repeats.setdefault(k[1:] + (seen[k],), []).append(o["ms"])
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "pass_s": (sum(map(median, repeats.values())) / 1e3, "s"),
        "op_geomean_ms": (geomean([median(v) for v in groups.values()]), "ms"),
    }


def per_layer(res, cores):
    s = res.get("samples", {})
    ops = res["ops"]
    traced_ops = [o for o in ops if o["traced"]]
    n_pass = max(1, len({o["pass"] for o in traced_ops}))
    traced_s = sum(o["ms"] for o in traced_ops) / 1e3
    eng = {k[len("engine."):]: v[0] for k, v in s.items()
           if k.startswith("engine.")}
    untraced = [o for o in ops if not o["traced"]]

    def kind_ms(kind, traced=False):
        return [o["ms"] for o in ops if o["kind"] == kind
                and o["traced"] == traced]

    def per_pass(key):
        return sum(s.get(key, [])) / n_pass

    def mean(key):
        v = s.get(key, [])
        return sum(v) / len(v) if v else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    def rate(kind):
        sel = [o for o in untraced if o["kind"] == kind]
        return ratio(sum(o.get("records", 0) for o in sel),
                     sum(o["ms"] for o in sel) / 1e3)

    spans = res.get("span_totals_ms", {})
    cold_s = sum(kind_ms("first_touch")) / 1e3
    checks = res.get("checks", [])
    live = sum(len(c.get("final_rows", [])) for c in checks)
    # overhead: traced passes against the untraced passes after the first
    tr, un = pass_sums(ops, True), pass_sums(ops, False, first=1)
    jobs = eng.get("jobs", 0)
    actions = eng.get("catalyst_actions", 0)
    m = {
        "requests.validate_ms": (mean("requests.validate_ms"), "ms"),
        "requests.rejected": (mean("requests.rejected"), "count"),
        "sink.write_s": (mean("sink.write_s"), "s"),
        "sink.files_written": (mean("sink.files_written"), "count"),
        "indexer.match_ratio": (ratio(sum(s.get("indexer.kept", [])),
                                      sum(s.get("indexer.offered", []))),
                                "ratio"),
        "log.append_ms": (mean("log.append_ms"), "ms"),
        "view.pending_rows": (mean("view.pending_rows"), "count"),
        "compact.touched_partitions": (mean("compact.touched_partitions"),
                                       "count"),
        "compact.rows_rewritten_per_change": (
            ratio(sum(s.get("compact.rows_rewritten", [])),
                  sum(s.get("compact.changes_folded", []))), "ratio"),
        "compact.files_after": (mean("compact.files_after"), "count"),
        "discovery.plan_ms": (mean("discovery.plan_ms"), "ms"),
        "discovery.exec_ms": (mean("discovery.exec_ms"), "ms"),
        "discovery.files_scanned_frac": (
            ratio(sum(s.get("discovery.files_read", [])),
                  sum(s.get("discovery.files_total", []))), "ratio"),
        "stream.trigger_ms_p50": (median(s.get("stream.trigger_ms", [])),
                                  "ms"),
        "stream.add_batch_ms": (mean("stream.add_batch_ms"), "ms"),
        "stream.batches": (len(s.get("stream.trigger_ms", [])) / n_pass,
                           "count"),
        "jobstates.fold_ms": (median(kind_ms("jobstates.fold", True)), "ms"),
        "operators.build_s": (spans.get("operators.build", 0) / 1e3 / n_pass,
                              "s"),
        "operators.exec_s": (spans.get("operators.exec", 0) / 1e3 / n_pass,
                             "s"),
        "cache.trees_built": (per_pass("cache.trees_built"), "count"),
        "cache.cold_trees": (sum(s.get("cache.cold_trees", [])), "count"),
        "cache.cold_bytes": (sum(s.get("cache.cold_bytes", [])), "B"),
        "cache.cold_pass_s": (cold_s, "s"),
        "cache.cold_extra_s": (cold_s - median(pass_sums(ops, False))
                               if cold_s else 0.0, "s"),
        "catalyst.analyze_ms": (ratio(eng.get("analyze_ms", 0), actions),
                                "ms"),
        "catalyst.optimize_ms": (ratio(eng.get("optimize_ms", 0), actions),
                                 "ms"),
        "catalyst.plan_ms": (ratio(eng.get("plan_ms", 0), actions), "ms"),
        "spark.jobs": (jobs / n_pass, "count"),
        "spark.stages": (eng.get("stages", 0) / n_pass, "count"),
        "spark.tasks": (eng.get("tasks", 0) / n_pass, "count"),
        "spark.single_task_stage_frac": (
            ratio(eng.get("single_task_stages", 0), eng.get("stages", 0)),
            "ratio"),
        "spark.task_run_s": (eng.get("task_run_ms", 0) / 1e3 / n_pass, "s"),
        "spark.core_util": (ratio(eng.get("task_run_ms", 0) / 1e3,
                                  cores * traced_s), "ratio"),
        "spark.wall_per_job_ms": (ratio(traced_s * 1e3, jobs), "ms"),
        "spark.shuffle_write_mb": (
            eng.get("shuffle_write_bytes", 0) / 2**20 / n_pass, "MB"),
        "spark.spill_mb": (eng.get("spill_bytes", 0) / 2**20 / n_pass, "MB"),
        "jvm.peak_rss_mb": (res.get("peak_rss_kb", 0) / 1024, "MB"),
        "trace.overhead_pct": (
            100 * ratio(median(tr) - median(un), median(un)), "%"),
        "catalog.ingest_records_per_s": (rate("ingest"), "1/s"),
        "catalog.change_p50_ms": (median(kind_ms("change")), "ms"),
        "catalog.compact_p50_s": (median(kind_ms("compact")) / 1e3, "s"),
        "catalog.discovery_p50_ms": (median(kind_ms("discovery")), "ms"),
        "catalog.discovery_p90_ms": (quantile(kind_ms("discovery"), 0.9),
                                     "ms"),
        "catalog.stream_records_per_s": (rate("stream"), "1/s"),
        "catalog.bytes_per_record": (
            ratio(sum(c.get("catalog_bytes", 0) for c in checks), live), "B"),
    }
    return m


# ---------------------------------------------------------------- main

def main():
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        sys.exit(f"[perfbench] unknown workload {args.workload!r}; one of "
                 f"{sorted(spec['workloads'])}")
    w = spec["workloads"][args.workload]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    classes, stamp = build.build(build_dir)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    run_dir = os.path.join(build_dir, "work", run_id)
    keep_dir = os.path.join(build_dir, "runs")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "out", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(keep_dir, exist_ok=True)
    try:
        result = run(args, spec, w, classes, cores, run_id, run_dir, keep_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"context": context(cores, stamp)}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run(args, spec, w, classes, cores, run_id, run_dir, keep_dir):
    job = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "cores": cores,
        "setups": SETUPS, "run_dir": run_dir, "run_id": run_id,
        "trace_file": os.path.join(keep_dir, run_id + ".trace.jsonl"),
        "output_dir": os.path.join(run_dir, "out"),
        "min_passes": w["min_passes"],
    }
    expects = []
    if args.workload == "catalog_pipeline":
        t = {k: v["value"] for k, v in w["traffic"].items()}
        job["cycles"] = []
        for c in range(t["cycles"]):
            plan, expect = gen.catalog_cycle(
                os.path.join(run_dir, f"in{c}"), args.seed, c, t)
            job["cycles"].append(plan)
            expects.append(expect)
        job["reads_per_batch"] = t["reads_per_batch"]
        job["compact_threshold"] = t["compact_threshold"]
    else:
        job["queries"] = w["queries"]
        job["data_dir"] = os.path.join(run_dir, "data")
        gen.tables(job["data_dir"], spec["analytics_sf"], args.seed)

    job_path = os.path.join(run_dir, "job.json")
    res_path = os.path.join(run_dir, "result.json")
    with open(job_path, "w") as f:
        json.dump(job, f)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                      f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/spark-local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{build.spark_jars()}/*",
              "graftbench.GraftBench", job_path, res_path])
    log_path = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=run_dir)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            tail(log_path)
            sys.exit(f"[perfbench] harness exceeded {JVM_TIMEOUT_S}s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(res_path):
        tail(log_path)
        sys.exit(f"[perfbench] harness failed rc={proc.returncode}")
    with open(res_path) as f:
        res = json.load(f)
    shutil.copy(res_path, os.path.join(keep_dir, run_id + ".result.json"))
    print(f"[perfbench] {args.workload} seed={args.seed} harness "
          f"{time.time() - t0:.1f}s, phases {res.get('phases')}",
          file=sys.stderr)
    leftover = [n for n in os.listdir(os.path.join(run_dir, "tmp"))
                if n.startswith("graft_lc_")]
    if leftover:
        res["failures"].append({"op": "cleanup",
                                "error": f"{len(leftover)} cache trees left"})

    # correctness, outside the timed region
    if args.workload == "catalog_pipeline":
        mismatches = verify.catalog(res.get("checks", []), expects)
        n_checks = len(res.get("checks", []))
    else:
        mismatches = verify.analytics(w["queries"], job["output_dir"],
                                      job["data_dir"])
        n_checks = len(w["queries"])
    for f in res["failures"]:
        print(f"[perfbench] FAILED {f['op']}: {f['error']}", file=sys.stderr)
    for m in mismatches:
        print(f"[perfbench] MISMATCH {m}", file=sys.stderr)
    failed = len(res["failures"]) + len(mismatches)
    metrics = per_layer(res, cores) if args.trace else end_to_end(res)
    return {
        "correct": failed == 0,
        "attempted": len(res["ops"]) + len(res["failures"]) + n_checks,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def tail(path, n=40):
    with open(path, errors="replace") as f:
        lines = f.readlines()[-n:]
    sys.stderr.write("".join(lines))


if __name__ == "__main__":
    main()
