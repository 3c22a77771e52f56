#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 bench/run.py --workload warehouse_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness (bench/scala) is compiled
together with the engine sources on first use (bench/build.py), inputs are
generated from --seed (bench/gen.py), the engine runs closed-loop with one
client on local[<cores/2>] in a fresh JVM whose temp, Spark-local and
warehouse directories are new for this run, and outputs are checked
(bench/check.py). With --trace 0 the end-to-end metrics are printed; with
--trace 1 the per-layer metrics of a traced run. See bench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# warehouse_read: reference-tier queries (core relational + warehouse tiers
# of the registry), a fixed 12-query cut of the 57 that keeps every kind of
# relational and warehouse op while one pass fits the run budget.
WAREHOUSE_READ = """q_scan_project q_agg_group q_join_full_outer q_join_anti q_cube
q_window_ranks q_asof_join_native q_merge_upsert q_cdc_all_changes
q_cdc_incremental_consume q_scd2_asof q_star_join""".split()

# iterative_ml: builder-heavy registry entries (fixed-point loops with their
# checkpoint/persist policies, the eager-checkpoint HITS builder, LSH and
# edit-distance connected components).
ITERATIVE_ML = """q_kcore q_hits q_doc_dedup_components
q_dedup_components_editdist""".split()

# `passes` is the fewest passes a run times (a daily_etl pass is one day).
# iterative_ml's three passes outlast --seconds 20 on 4 cores, so its runs
# time the same 12 ops; daily_etl times the days that fit --seconds, about 5.
# warehouse_read is not in BENCHMARK.json: three workloads do not fit the
# run budget on 4 cores (see README.md).
WORKLOADS = {
    "warehouse_read": dict(ops=WAREHOUSE_READ, scale=0.01, text_scale=0.01, passes=2),
    "iterative_ml": dict(ops=ITERATIVE_ML, scale=0.01, text_scale=0.02, passes=3),
    # star tables only feed the traced run's kernel probes here
    "daily_etl": dict(cities=60, years=2, days=60, warm_days=1, scale=0.001, text_scale=0.01,
                      passes=3),
}

# Query workloads run on one fixed generated dataset (the seed sets their op
# order); daily_etl's batches come from the seed itself.
DATA_SEED = 42

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150
HEAP = "2g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def threads():
    """Spark task threads: half the cores the run may use. The ops are bound
    by fixed per-job cost, so two threads run them about as fast as four on
    4 cores, and the other cores stay free for the driver thread, JIT and
    GC; on a shared host this keeps the walls from measuring the scheduler.
    """
    return max(1, cpus() // 2)


def cpu_ticks():
    """(steal, all) jiffies of this machine, from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a TERM unwinds through subprocess.run, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        log("engine sources not found next to bench/: run from a full checkout")
        return 2
    cfg = WORKLOADS[args.workload]
    classpath = build.ensure_built(ROOT)

    runs = os.path.join(ROOT, ".bench_runs")
    run = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data, dump = os.path.join(run, "data"), os.path.join(run, "dump")
    for d in ("tmp", "spark-local", "data", "dump"):
        os.makedirs(os.path.join(run, d))
    with open(os.path.join(runs, "seeds.log"), "a") as f:
        f.write(json.dumps({"time": time.strftime("%Y-%m-%dT%H:%M:%S"), "workload": args.workload,
                            "seed": args.seed, "trace": args.trace}) + "\n")
    try:
        return execute(args, cfg, classpath, run, data, dump)
    finally:
        # keep only the run's raw result; inputs and stores go
        for d in ("tmp", "spark-local", "data", "dump", "store", "warehouse"):
            shutil.rmtree(os.path.join(run, d), ignore_errors=True)


def execute(args, cfg, classpath, run, data, dump):
    t0 = time.time()
    gen.star(data, DATA_SEED, cfg["scale"], cfg["text_scale"])
    jargs = [f"workload={args.workload}", f"data={data}", f"run={run}",
             f"seconds={args.seconds}", f"passes={cfg['passes']}", f"trace={args.trace}",
             f"cpus={threads()}", f"out={run}/result.json", f"dump={dump}"]
    if args.workload == "daily_etl":
        truth = gen.weather(data, args.seed, cfg["cities"], cfg["years"], cfg["days"])
        jargs += [f"days={cfg['days']}", f"warm_days={cfg['warm_days']}"]
    else:
        ops = list(cfg["ops"])
        random.Random(args.seed).shuffle(ops)
        jargs.append("ops=" + ",".join(ops))
    log(f"inputs generated in {time.time() - t0:.1f}s under {data}")

    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main"] + jargs)
    ticks0 = cpu_ticks()
    with open(f"{run}/jvm.log", "w") as logf:
        try:
            rc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            log(f"harness JVM exceeded {JVM_TIMEOUT_S}s; see {run}/jvm.log")
            return 1
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # time the hypervisor gave the run's vCPUs to other guests: the
        # share of host contention in this run's walls
        log(f"steal {(ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.3f} of cpu time")
    if rc != 0 or not os.path.exists(f"{run}/result.json"):
        log(f"harness JVM failed (exit {rc}); see {run}/jvm.log")
        return 1
    result = json.load(open(f"{run}/result.json"))
    ops = result["ops"]
    if not ops:
        log("no op completed")
        return 1

    t1 = time.time()
    if args.workload == "daily_etl":
        done = cfg["warm_days"] + len(ops)
        try:
            bad = check.daily_etl(data, os.path.join(run, "store"), done)
        except Exception as e:  # an unreadable store fails every op
            bad = {"*": f"check error: {e}"}
        failed = {o["id"] for o in ops if "*" in bad or o["name"] in bad}
    else:
        bad = check.queries(data, dump, cfg["ops"], result["check_errors"])
        failed = {o["id"] for o in ops if o["name"] in bad}
    for name, why in sorted(bad.items()):
        log(f"check FAILED {name}: {why}")
    for o in ops:
        if o["error"]:
            log(f"op {o['id']} {o['name']} threw: {o['error']}")
    log(f"outputs checked in {time.time() - t1:.1f}s")

    e2e, extra = stats.end_to_end(result, failed)
    threw = {o["id"] for o in ops if o["error"]}
    n_failed = len(threw | failed)
    if args.trace:
        staged = cdc_rows = None
        if args.workload == "daily_etl":
            days = [truth["days"][int(o["name"][4:])] for o in ops]
            staged = (sum(d["bytes"] for d in days), sum(d["rows"] for d in days))
            cdc_rows = sum(d["new_keys"] + 2 * d["corrections"] for d in days)
        layer = stats.per_layer(result, threads(), staged, cdc_rows)
        units = dict(stats.per_layer_names())
        metrics = {k: {"value": layer[k], "unit": units[k]} for k, _ in stats.per_layer_names()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    log(f"{args.workload} seed={args.seed} ops={len(ops)} passes={result['nums']['passes']:.0f} "
        + " ".join(f"{k}={v}" for k, v in extra.items()))
    print(json.dumps({"correct": not bad and not threw, "attempted": len(ops),
                      "failed": n_failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
