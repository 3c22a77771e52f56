"""Pure arithmetic of the benchmark: percentiles, failure share, span self
time and the metric tables built from one run's raw records.
"""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile (p in (0, 1]) of a non-empty sequence."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def tail_ok(n, p, beyond=10):
    """A p-th percentile is reported only with at least `beyond` samples
    above it: n * (1 - p) >= beyond (p90 needs 100 samples).
    """
    return n * (1.0 - p) >= beyond - 1e-9


def failed_frac(attempted, threw, check_failed):
    """(ops that threw + ops whose output check failed) / ops attempted.
    `threw` and `check_failed` are sets of op ids; an op in both counts once.
    """
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return len(set(threw) | set(check_failed)) / attempted


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its child spans (same op, parent == its name). Returns
    {(op, name): seconds}, summed over repeated spans of one name.
    """
    out = {}
    for s in spans:
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in spans
                if c["op"] == s["op"] and c["parent"] == s["name"] and c is not s]
        kids = [(a, b) for a, b in kids if b > a]
        own = (s["end_ns"] - s["start_ns"]) - _covered(kids)
        key = (s["op"], s["name"])
        out[key] = out.get(key, 0.0) + own / 1e9
    return out


def span_durations(spans):
    """{(op, name): seconds}, summed over repeated spans of one name."""
    out = {}
    for s in spans:
        key = (s["op"], s["name"])
        out[key] = out.get(key, 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    return out


def name_best(ops):
    """Best (lowest) wall of each op name over its timed repeats, in
    first-seen order. On a shared host, noise only ever adds time (another
    guest holding the CPUs, a late JIT compile), so an op's fastest repeat
    is its steadiest estimate of its own cost (Chen and Revels, "Robust
    benchmarking in noisy environments", 2016). A daily_etl day is its own
    name and keeps its one wall.
    """
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["wall_s"])
    return [min(ws) for ws in by.values()]


def end_to_end(result, failed_ids):
    """End-to-end metrics of an untraced run (timed ops only)."""
    ops = result["ops"]
    walls = [o["wall_s"] for o in ops]
    best = name_best(ops)
    nums = result["nums"]
    m = {
        "setup_s": (nums["setup_s"], "s"),
        # every query weighs the same however many passes ran
        "op_p50_s": (statistics.median(best), "s"),
        # one closed-loop client: ops over the time it was busy, one of each
        # name at its best wall
        "ops_per_s": (len(best) / sum(best), "1/s"),
        "peak_rss_mb": (nums["peak_rss_mb"], "MB"),
    }
    extra = {"ops": len(ops),
             "failed_frac": failed_frac(len(ops), {o["id"] for o in ops if o["error"]}, failed_ids)}
    if tail_ok(len(walls), 0.9):
        extra["op_p90_s"] = percentile(walls, 0.9)
    return m, extra


EXEC_KEYS = ["jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes", "input_bytes"]
OP_KINDS = ["AsofJoinExec", "BroadcastExchange", "Exchange", "HashAggregate",
            "ObjectHashAggregate", "Scan", "ShuffledHashJoin", "Sort", "SortMergeJoin",
            "Window"]
FUNCTIONS = ["dot_q", "sq_l2", "vec_sum_q", "shingles", "minhash_sig", "hyperplane_bands"]
STAGES = ["dedup", "impute", "cap_outliers", "dim_insert", "fact_merge", "mark_processed"]


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    n = [("operators.build_s", "s"), ("operators.build_jobs", "count"),
         ("operators.build_share", "ratio"),
         ("spark.catalyst.analysis_s", "s"), ("spark.catalyst.optimize_s", "s"),
         ("spark.catalyst.planning_s", "s"), ("spark.catalyst.plan_nodes", "count"),
         ("plans.rule_s", "s"), ("spark.exec.s", "s")]
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_cpu_s": "s",
             "gc_s": "s", "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
             "shuffle_fetch_wait_s": "s", "spill_bytes": "bytes", "input_bytes": "bytes"}
    n += [(f"spark.exec.{k}", units[k]) for k in EXEC_KEYS] + [("spark.exec.count_s", "s")]
    n += [("spark.exec.empty_task_frac", "ratio"), ("spark.exec.slot_util", "ratio"),
          ("spark.exec.peak_exec_mem_bytes", "bytes")]
    for k in OP_KINDS:
        n += [(f"spark.exec.op.{k}.time_s", "s"), (f"spark.exec.op.{k}.rows", "rows")]
    n += [("spark.storage.mem_bytes_peak", "bytes"), ("spark.storage.disk_bytes_peak", "bytes"),
          ("spark.storage.blocks_written", "count")]
    n += [(f"functions.{k}.ns_per_row", "ns") for k in FUNCTIONS]
    for s in STAGES:
        n += [(f"pipeline.{s}_s", "s"), (f"pipeline.{s}.rows_out", "rows")]
    n += [("pipeline.rows_per_s", "rows/s"),
          ("sources.commit_s", "s"), ("sources.read_latest_s", "s"),
          ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
          ("sources.versions", "count"), ("sources.space_amp", "ratio"),
          ("sources.write_amp", "ratio"),
          ("streaming.cdc_s", "s"), ("streaming.cdc_rows", "rows"),
          ("trace.op_p50_s", "s"), ("trace.op_self_s", "s")]
    return n


def per_layer(result, cores, staged=None, cdc_rows=None):
    """Per-layer metrics of a traced run: per-op means over the timed ops
    (peaks are maxima), zero where the workload never enters the layer.
    `staged` = (bytes, rows) of the timed days' staging input (daily_etl);
    `cdc_rows` = change rows the timed days captured.
    """
    ops = result["ops"]
    ids = [o["id"] for o in ops]
    n = max(1, len(ids))
    counters = {int(k): v for k, v in result.get("counters", {}).items()}
    spans = [s for s in result.get("spans", []) if s["op"] in set(ids)]
    dur = span_durations(spans)
    self_t = self_times(spans)

    def tot(key):
        return sum(counters.get(i, {}).get(key, 0.0) for i in ids)

    def peak(key):
        return max([counters.get(i, {}).get(key, 0.0) for i in ids] or [0.0])

    def span_sum(*names):
        return sum(dur.get((i, nm), 0.0) for i in ids for nm in names)

    # a traced op's wall leaves out its count() span (query workloads)
    walls = [dur.get((i, "op"), 0.0) - dur.get((i, "count"), 0.0) for i in ids]
    op_wall = sum(walls)
    exec_s = span_sum("execute", "commit", "cdc")
    v = {
        "operators.build_s": span_sum("build") / n,
        "operators.build_jobs": tot("operators.build_jobs") / n,
        "operators.build_share": span_sum("build") / op_wall if op_wall else 0.0,
        "spark.catalyst.analysis_s": tot("spark.catalyst.analysis_s") / n,
        "spark.catalyst.optimize_s": tot("spark.catalyst.optimize_s") / n,
        "spark.catalyst.planning_s": tot("spark.catalyst.planning_s") / n,
        "spark.catalyst.plan_nodes": tot("spark.catalyst.plan_nodes") / n,
        "plans.rule_s": tot("plans.rule_s") / n,
        "spark.exec.s": exec_s / n,
    }
    for k in EXEC_KEYS:
        v[f"spark.exec.{k}"] = tot(f"spark.exec.{k}") / n
    v["spark.exec.count_s"] = span_sum("count") / n
    tasks = tot("spark.exec.tasks")
    v["spark.exec.empty_task_frac"] = tot("spark.exec.empty_tasks") / tasks if tasks else 0.0
    v["spark.exec.slot_util"] = tot("spark.exec.task_run_s") / (exec_s * cores) if exec_s else 0.0
    v["spark.exec.peak_exec_mem_bytes"] = peak("spark.exec.peak_exec_mem_bytes")
    for k in OP_KINDS:
        for f in ("time_s", "rows"):
            v[f"spark.exec.op.{k}.{f}"] = tot(f"spark.exec.op.{k}.{f}") / n
    v["spark.storage.mem_bytes_peak"] = peak("spark.storage.mem_bytes_peak")
    v["spark.storage.disk_bytes_peak"] = peak("spark.storage.disk_bytes_peak")
    v["spark.storage.blocks_written"] = tot("spark.storage.blocks_written") / n
    nums = result["nums"]
    for k in FUNCTIONS:
        v[f"functions.{k}.ns_per_row"] = nums.get(f"functions.{k}.ns_per_row", 0.0)
    prev = 0.0
    for s in STAGES:
        cum = nums.get(f"pipeline.prefix.{s}_s", 0.0)
        # stage time = its prefix wall minus the previous prefix's wall
        # (mark_processed's prefix skips the dim/fact stages)
        base = nums.get("pipeline.prefix.cap_outliers_s", 0.0) if s == "mark_processed" else prev
        v[f"pipeline.{s}_s"] = cum - base if cum else 0.0
        v[f"pipeline.{s}.rows_out"] = nums.get(f"pipeline.{s}.rows_out", 0.0)
        prev = cum
    sbytes, srows = staged or (0.0, 0.0)
    v["pipeline.rows_per_s"] = srows / nums["timed_wall_s"] if staged else 0.0
    for k in ("sources.commit_s", "sources.read_latest_s", "sources.bytes_written",
              "sources.files_written", "streaming.cdc_s"):
        v[k] = tot(k) / n
    v["sources.versions"] = nums.get("sources.versions", 0.0)
    v["sources.space_amp"] = nums.get("sources.space_amp", 0.0)
    v["sources.write_amp"] = tot("sources.bytes_written") / sbytes if sbytes else 0.0
    v["streaming.cdc_rows"] = (cdc_rows or 0) / n
    # the untraced op_p50_s estimator over the traced walls
    traced = [dict(o, wall_s=w) for o, w in zip(ops, walls)]
    v["trace.op_p50_s"] = statistics.median(name_best(traced)) if traced else 0.0
    v["trace.op_self_s"] = sum(self_t.get((i, "op"), 0.0) for i in ids) / n
    return v
