"""Metric definitions and the arithmetic behind them.

`END_TO_END` and `PER_LAYER` are the names `run.py` prints, in the order
BENCHMARK.json lists them. Everything else here is a pure function over the
client's `result.json` record, so the rules (tail percentile, span self
time, the layer-sum check) are unit-tested without Spark.
"""
import math
import statistics

END_TO_END = [("setup_s", "s"), ("qps", "1/s"), ("latency_gmean_s", "s")]

GRAFT_RULES = ["MvRewrite", "FkJoinElimination", "SemiJoinRewrite", "EagerAggregation",
               "AggregateUnionTranspose", "OrJoinToUnion", "LowerAsofJoin",
               "UniqueKeyAggregateRemove"]
PER_QUERY = {
    "neardup_sf01": ["d01_dedup_exact", "d03_minhash_lsh", "d04_jaccard_pairs",
                     "d09_knn_bruteforce", "d15_neardup_components"],
    "mv_serving": ["q148_mv_filtered_rollup", "q149_mv_union_rollup", "q150_mv_join_rollup",
                   "q159_mv_fk_tile", "q160_mv_fk_union"],
}
PER_QUERY_METRICS = [("build.s", "s"), ("plans.optimization_s", "s"),
                     ("exec.task_s", "s"), ("exec.skew_max", "ratio")]

PER_LAYER = (
    [("build.s", "s"), ("build.jobs", "count"), ("build.job_s", "s"),
     ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
     ("plans.graft_rules_s", "s"), ("plans.spark_rules_s", "s")]
    + [(f"plans.rule.{r}.{m}", u) for r in GRAFT_RULES
       for m, u in (("s", "s"), ("effective_ratio", "ratio"))]
    + [("mv.hit_ratio", "ratio"), ("mv.fact_scan_mb", "MiB"), ("mv.fold_lag_s", "s"),
       ("mv.maint_jobs", "count"), ("mv.append_p50_s", "s"), ("mv.fresh_p50_s", "s")]
    + [("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
       ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
       ("exec.gc_s", "s"), ("exec.sched_wait_s", "s"), ("exec.core_util", "ratio"),
       ("exec.scan_mb", "MiB"), ("exec.shuffle_read_mb", "MiB"),
       ("exec.shuffle_write_mb", "MiB"), ("exec.spill_mb", "MiB"), ("exec.skew_max", "ratio")]
    + [("driver.gap_s", "s"), ("jvm.peak_rss_mb", "MiB"), ("trace.latency_gmean_s", "s"),
       ("trace.layer_sum_err", "ratio"), ("d15_neardup_components.build.jobs", "count")]
    + [(f"{q}.{m}", u) for qs in PER_QUERY.values() for q in qs
       for m, u in PER_QUERY_METRICS]
)

MIB = float(1 << 20)
TAIL_LADDER = [50.0, 75.0, 90.0, 95.0, 99.0, 99.9, 99.99]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def rank_value(sorted_xs, p):
    """Nearest-rank p-th percentile of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail_percentile(xs, min_beyond=10):
    """The highest percentile of TAIL_LADDER with at least `min_beyond`
    samples strictly beyond its nearest-rank position. Returns
    (percentile, value, samples_beyond). With too few samples for even the
    median to qualify, the median is returned with its real count."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return (50.0, 0.0, 0)
    best = None
    for p in TAIL_LADDER:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= min_beyond:
            best = (p, rank_value(s, p), beyond)
    return best or (50.0, statistics.median(s), n - max(1, math.ceil(n / 2)))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    s, e = span
    clipped = [(max(s, a), min(e, b)) for a, b in children]
    return (e - s) - union_length(clipped)


def layer_sum_error(latency, parts):
    """Relative distance between the sum of an op's layer times and its
    latency: 0 when the layers tile the op exactly, larger when layer spans
    overlap (double counting) or miss time."""
    return abs(sum(parts) - latency) / latency if latency > 0 else 0.0


def simple_rule_name(name):
    return name.replace("$", ".").rstrip(".").rsplit(".", 1)[-1]


def _job_span(j):
    return j["start"] / 1e3, (j["end"] if j["end"] > 0 else j["start"]) / 1e3


def _write_qe(tr):
    """The sink write's query execution: the last one planned in the op."""
    planned_at = lambda q: q["phases"].get("planning", [0, 0])[1]
    return (max(tr["qes"], key=planned_at) if tr["qes"]
            else {"phases": {}, "rules": {}, "reads_tile": False, "scan_bytes": 0})


def op_spans(sample):
    """The span tree of one traced op, as a flat list of
    {id, parent, name, start, end} in seconds (jobs also carry `job`) (parent None for the op).
    A read has `build` (its jobs and their stages under it), the write's
    `plans.analysis`, `plans.optimization` and `plans.planning`, then one
    `job` per write job with its `stage`s. An append has `insert` and
    `await`, each with the jobs submitted in it (folds included)."""
    tr = sample["trace"]
    t0, t1, t2 = sample["t0_us"] / 1e6, sample["t1_us"] / 1e6, sample["t2_us"] / 1e6
    spans = [{"id": 0, "parent": None, "name": sample["name"], "start": t0, "end": t2}]

    def add(parent, name, start, end, **extra):
        spans.append({"id": len(spans), "parent": parent, "name": name, "start": start,
                      "end": end, **extra})
        return len(spans) - 1

    read = sample["kind"] == "read"
    first = add(0, "build" if read else "insert", t0, t1)
    second = None if read else add(0, "await", t1, t2)
    if read:
        for k in ("analysis", "optimization", "planning"):
            if k in _write_qe(tr)["phases"]:
                a, b = _write_qe(tr)["phases"][k]
                add(0, f"plans.{k}", a / 1e3, b / 1e3)
    stages = {s["id"]: s for s in tr["stages"]}
    for j in tr["jobs"]:
        a, b = _job_span(j)
        in_first = j["group"].endswith((":build", ":insert")) or (
            not j["group"].endswith((":write", ":await")) and a < t1)
        parent = first if in_first else (0 if read else second)
        jid = add(parent, "job", a, b, job=j["id"])
        for sid in j["stages"]:
            if sid in stages and stages[sid]["submit"] > 0:
                add(jid, "stage", stages[sid]["submit"] / 1e3, stages[sid]["end"] / 1e3)
    return spans


def read_layers(sample, cores):
    """Per-layer figures of one traced read op (seconds unless noted)."""
    tr = sample["trace"]
    spans = op_spans(sample)
    op = spans[0]
    kids = [x for x in spans if x["parent"] == 0]
    build_id = next(x["id"] for x in kids if x["name"] == "build")
    jobs_of = lambda parent: [x for x in spans if x["parent"] == parent and x["name"] == "job"]
    build_jobs, write_jobs = jobs_of(build_id), jobs_of(0)
    phase_s = {k: sum(x["end"] - x["start"] for x in kids if x["name"] == f"plans.{k}")
               for k in ("analysis", "optimization", "planning")}
    wq = _write_qe(tr)
    write_job_ids = {x["job"] for x in write_jobs}
    write_stage_ids = {sid for j in tr["jobs"] if j["id"] in write_job_ids for sid in j["stages"]}
    stages = [s for s in tr["stages"] if s["id"] in write_stage_ids]

    rules = {}
    graft_s = spark_s = 0.0
    for name, (ns, n, eff) in wq["rules"].items():
        if name.startswith("graft."):
            graft_s += ns / 1e9
            r = rules.setdefault(simple_rule_name(name), [0.0, 0, 0])
            r[0] += ns / 1e9
            r[1] += n
            r[2] += eff
        else:
            spark_s += ns / 1e9

    exec_s = union_length([(x["start"], x["end"]) for x in write_jobs])
    task_ms = [t for s in stages for t in s["task_ms"]]
    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
             for s in stages if len(s["task_ms"]) >= 2 and statistics.median(s["task_ms"]) > 0]
    gap = self_time((op["start"], op["end"]), [(x["start"], x["end"]) for x in kids])
    latency = op["end"] - op["start"]
    out = {
        "latency": latency,
        "build.s": spans[build_id]["end"] - spans[build_id]["start"],
        "build.jobs": len(build_jobs),
        "build.job_s": union_length([(x["start"], x["end"]) for x in build_jobs]),
        "plans.analysis_s": phase_s["analysis"],
        "plans.optimization_s": phase_s["optimization"],
        "plans.planning_s": phase_s["planning"],
        "plans.graft_rules_s": graft_s,
        "plans.spark_rules_s": spark_s,
        "rules": rules,
        "reads_tile": wq["reads_tile"],
        "exec.s": exec_s,
        "exec.jobs": len(write_jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(task_ms),
        "exec.task_s": sum(task_ms) / 1e3,
        "exec.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.sched_wait_s": sum(max(0, l - s["submit"]) for s in stages if s["submit"] > 0
                                 for l in s["launch"]) / 1e3,
        "exec.scan_mb": wq["scan_bytes"] / MIB,
        "exec.shuffle_read_mb": sum(s["sh_read_bytes"] for s in stages) / MIB,
        "exec.shuffle_write_mb": sum(s["sh_write_bytes"] for s in stages) / MIB,
        "exec.spill_mb": sum(s["spill_bytes"] for s in stages) / MIB,
        "exec.skew_max": max(skews) if skews else 1.0,
        "driver.gap_s": gap,
    }
    out["exec.core_util"] = out["exec.task_s"] / (exec_s * cores) if exec_s > 0 else 0.0
    out["layer_sum_err"] = layer_sum_error(latency, [
        out["build.s"], phase_s["analysis"], phase_s["optimization"], phase_s["planning"],
        exec_s, gap])
    return out


def is_mv_read(name):
    return "_mv_" in name


def per_query_medians(samples):
    """{query: median latency in seconds} over successful read samples."""
    by_q = {}
    for s in samples:
        if s["kind"] == "read" and s["error"] is None:
            by_q.setdefault(s["name"], []).append((s["t2_us"] - s["t0_us"]) / 1e6)
    return {q: statistics.median(v) for q, v in by_q.items()}


def gmean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def end_to_end(record, launch_s):
    """End-to-end metrics of a run from its untraced timed samples, plus
    sample statistics that go into the full record only.

    A run holds 10 to 40 reads of five different queries. The median over
    all reads jumps between the queries' cost clusters, no percentile has
    ten samples beyond it, and the slowest query's median rests on two to
    eight samples; the reported latency is therefore the geometric mean
    over queries of each query's median latency. Peak RSS spread 20%
    between runs, so it is reported per layer and in the full record."""
    plain = [s for s in record["samples"] if s["timed"] and not s["traced"]]
    reads = [s for s in plain if s["kind"] == "read" and s["error"] is None]
    med = per_query_medians(plain)
    lat = [(s["t2_us"] - s["t0_us"]) / 1e6 for s in reads]
    p, tail, beyond = tail_percentile(lat)
    return {
        "setup_s": record["ready_ms"] / 1e3 - launch_s,
        "qps": len(reads) / record["timed_s"],
        "latency_gmean_s": gmean(med.values()),
    }, {"peak_rss_mb": record["peak_rss_kb"] / 1024.0, "read_samples": len(lat), "latency_p50_s": median(lat), "tail_percentile": p,
        "latency_tail_s": tail, "tail_samples_beyond": beyond,
        "latency_worst_query_s": max(med.values(), default=0.0), "query_medians_s": med}


def per_layer(record, cores):
    """Per-layer metrics of a traced run: means per traced read op, ratios
    as ratios of sums, per-query figures for the queries PER_QUERY names."""
    timed = [s for s in record["samples"] if s["timed"] and s["error"] is None]
    traced_reads = [s for s in timed if s["kind"] == "read" and s["traced"]]
    appends = [s for s in timed if s["kind"] == "append"]
    layers = [(s["name"], read_layers(s, cores)) for s in traced_reads]
    ls = [l for _, l in layers]
    m = {k: mean([l[k] for l in ls]) for k in (
        "build.s", "build.jobs", "build.job_s", "plans.analysis_s", "plans.optimization_s",
        "plans.planning_s", "plans.graft_rules_s", "plans.spark_rules_s", "exec.s",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
        "exec.sched_wait_s", "exec.scan_mb", "exec.shuffle_read_mb",
        "exec.shuffle_write_mb", "exec.spill_mb", "driver.gap_s")}
    exec_wall = sum(l["exec.s"] for l in ls)
    m["exec.core_util"] = sum(l["exec.task_s"] for l in ls) / (exec_wall * cores) if exec_wall else 0.0
    by_query = {}
    for name, l in layers:
        by_query.setdefault(name, []).append(l)
    m["exec.skew_max"] = max((median([l["exec.skew_max"] for l in v]) for v in by_query.values()),
                             default=1.0)
    for r in GRAFT_RULES:
        rs = [l["rules"].get(r, [0.0, 0, 0]) for l in ls]
        m[f"plans.rule.{r}.s"] = mean([x[0] for x in rs])
        calls = sum(x[1] for x in rs)
        m[f"plans.rule.{r}.effective_ratio"] = sum(x[2] for x in rs) / calls if calls else 0.0
    mv = [l for name, l in layers if is_mv_read(name)]
    m["mv.hit_ratio"] = sum(1 for l in mv if l["reads_tile"]) / len(mv) if mv else 0.0
    m["mv.fact_scan_mb"] = mean([l["exec.scan_mb"] for l in mv])
    m["mv.fold_lag_s"] = median([(s["t2_us"] - s["t1_us"]) / 1e6 for s in appends])
    m["mv.maint_jobs"] = mean([len(s["trace"]["jobs"]) for s in appends if s["traced"]])
    m["mv.append_p50_s"] = median([(s["t1_us"] - s["t0_us"]) / 1e6 for s in appends])
    m["mv.fresh_p50_s"] = median([(s["t2_us"] - s["t0_us"]) / 1e6 for s in appends])
    m["trace.latency_gmean_s"] = gmean(per_query_medians(traced_reads).values())
    m["jvm.peak_rss_mb"] = record["peak_rss_kb"] / 1024.0
    m["trace.layer_sum_err"] = max((l["layer_sum_err"] for l in ls), default=0.0)
    d15 = by_query.get("d15_neardup_components", [])
    m["d15_neardup_components.build.jobs"] = mean([l["build.jobs"] for l in d15])
    for qs in PER_QUERY.values():
        for q in qs:
            v = by_query.get(q, [])
            for k, _ in PER_QUERY_METRICS:
                agg = median if k == "exec.skew_max" else mean
                m[f"{q}.{k}"] = agg([l[k] for l in v]) if v else 0.0
    return m
