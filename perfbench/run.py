#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client over one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the client together
with the engine's sources (sbt, in perfbench/) and generates the base tables
under perfbench/.work/; later runs reuse both while the sources are
unchanged. Each run then:

1. derives the run's operation stream and append batches from --seed;
2. starts one JVM (local[<nproc>]) that warms up, checks outputs and
   drives the timed passes (see src/main/scala/perfbench/Main.scala);
3. compares the check pass with the DuckDB oracle (perfbench/oracle.py);
4. writes the full record, every sample included, to
   perfbench/.work/results/ and prints one JSON summary as the last line:
   end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {
    "neardup_sf01": {"scale": "sf0.1", "queries": metrics.PER_QUERY["neardup_sf01"],
                     "digest_queries": ["d03_minhash_lsh", "d04_jaccard_pairs",
                                        "d15_neardup_components"]},
    # two warmup passes: the first registers the tiles, the second still runs
    # its reads about twice as slow as later passes
    "mv_serving": {"scale": "sf0.1", "queries": metrics.PER_QUERY["mv_serving"],
                   "appends": True, "warmup": 2},
}
PLAN_PASSES = 400        # more than any run uses; passes past the end wrap around
BATCH_ROWS = 100         # orders rows per append batch
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 165
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return home


def cores():
    return len(os.sched_getaffinity(0))


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(ROOT, "src", "main", "resources"),
                os.path.join(HERE, "src")):
        files += sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the engine plus the client once per source state."""
    marker = os.path.join(WORK, "build.json")
    want = source_hash()
    if os.path.exists(marker) and json.load(open(marker)).get("hash") == want:
        return want
    log("building the engine and the benchmark client (sbt compile)")
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"hash": want}, f)
    return want


def java_cmd(main, *args, tmp):
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + os.path.join(
        spark_home(), "jars", "*")
    return (["java", f"-Xmx{JVM_HEAP}", *JDK17_OPENS, f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
             main, *args])


def ensure_data(scale):
    """Base tables for a scale factor (`sf<f>`), generated once per checkout."""
    out = os.path.join(WORK, "data", scale)
    if not os.path.isdir(out):
        log(f"generating base tables at {scale}")
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen.write_tables(out, float(scale[2:]))
        with open(out + ".digest", "w") as f:
            f.write(gen.digest([out]))
    return out


def data_digest(scale):
    with open(os.path.join(WORK, "data", scale + ".digest")) as f:
        return f.read().strip()


def oracle_sql_path():
    """All SparkEntry.oracleSql entries as JSON, dumped once per build."""
    path = os.path.join(WORK, "oracle_sql.json")
    stamp = os.path.join(WORK, "build.json")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(stamp):
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        subprocess.run(java_cmd("perfbench.Main", "--oracle-sql", path, tmp=tmp), check=True,
                       cwd=tmp, timeout=120)
    return path


def make_stream(workload, seed):
    """The run's passes: each a seeded order of the workload's queries;
    on mv_serving one append batch follows the first two to four reads."""
    w = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    passes = []
    for p in range(PLAN_PASSES):
        ops = [f"r:{q}" for q in w["queries"]]
        rng.shuffle(ops)
        if w.get("appends"):
            ops.insert(rng.randint(2, 4), f"a:{p}")
        passes.append(ops)
    return passes


def prepare_run(workload, seed, run_dir):
    """Write the plan file and per-run inputs; returns (plan, input digests)."""
    w = WORKLOADS[workload]
    base = ensure_data(w["scale"])
    passes = make_stream(workload, seed)
    assert passes == make_stream(workload, seed), "stream is not a function of the seed"
    digests = {"tables": data_digest(w["scale"])}
    data = base
    conf = {}
    if w.get("appends"):
        # a writable copy: orders becomes a directory that appends add files to
        data = os.path.join(run_dir, "data")
        os.makedirs(data)
        for t in gen.TABLES:
            dst = os.path.join(data, f"{t}.parquet")
            if t == "orders":
                os.makedirs(dst)
                dst = os.path.join(dst, "part-00000.parquet")
            shutil.copyfile(os.path.join(base, f"{t}.parquet"), dst)
        n_customers = gen.table_rows(float(w["scale"][2:]))["customer"]
        first_key = gen.table_rows(float(w["scale"][2:]))["orders"]
        batches = gen.append_batches(seed, PLAN_PASSES, BATCH_ROWS, first_key, n_customers)
        again = gen.append_batches(seed, PLAN_PASSES, BATCH_ROWS, first_key, n_customers)
        digests["append_batches"] = gen.table_digest(batches)
        assert digests["append_batches"] == gen.table_digest(again), \
            "append batches are not a function of the seed"
        custkeys = set(pq.read_table(os.path.join(base, "customer.parquet"),
                                     columns=["c_custkey"])["c_custkey"].to_pylist())
        assert set(batches["o_custkey"].to_pylist()) <= custkeys, "an append batch breaks the FK"
        conf["batches"] = os.path.join(run_dir, "batches.parquet")
        pq.write_table(batches, conf["batches"])
    stream = "\n".join(" ".join(p) for p in passes)
    digests["stream"] = hashlib.sha256(stream.encode()).hexdigest()
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    conf.update(data=data, out=out, tmp=tmp, cores=cores())
    return conf, passes, digests


def check_outputs(workload, conf, record):
    """Compare the check pass with DuckDB; returns {query: reason} for failures."""
    import oracle
    w = WORKLOADS[workload]
    failures = dict(record["check_errors"])
    expected = {}
    if w.get("digest_queries"):
        with open(os.path.join(HERE, "expected", f"{workload}.json")) as f:
            exp = json.load(f)
        if exp["data_digest"] != data_digest(w["scale"]):
            return {q: "expected digests were computed for other base tables" for q in w["queries"]}
        expected = exp["digests"]
    con = oracle.connect(conf["data"])
    for q in dict.fromkeys(w["queries"]):
        if q in failures:
            continue
        if q in w.get("digest_queries", ()):
            why = ("no expected digest" if q not in expected else
                   oracle.compare(con, os.path.join(conf["out"], "check"), q,
                                  expected_digest=expected[q]))
        elif q in record["oracle_sql"]:
            why = oracle.compare(con, os.path.join(conf["out"], "check"), q,
                                 sql=record["oracle_sql"][q])
        else:
            why = "no oracle"
        if why:
            failures[q] = why
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        sys.exit("perfbench: the engine's sources (src/main/scala) are not in this checkout")

    build = ensure_build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    try:
        conf, passes, digests = prepare_run(args.workload, args.seed, run_dir)
        checks = [o[2:] for o in passes[0] if o.startswith("r:")]
        w = WORKLOADS[args.workload]
        conf.update(seconds=args.seconds, trace=args.trace, warmup=w.get("warmup", 0),
                    check_first=0 if w.get("appends") else 1)
        plan = os.path.join(run_dir, "plan.txt")
        with open(plan, "w") as f:
            f.writelines(f"conf {k} {v}\n" for k, v in conf.items())
            f.writelines(f"pass {' '.join(p)}\n" for p in passes)
            f.writelines(f"check {q}\n" for q in checks)
        launch = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(java_cmd("perfbench.Main", plan, tmp=conf["tmp"]),
                                    stdout=jlog, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                pass
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        result_path = os.path.join(conf["out"], "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"perfbench: client failed (exit {proc.returncode})")
        with open(result_path) as f:
            record = json.load(f)

        failures = check_outputs(args.workload, conf, record)
        op_errors = [f"{s['name']}: {s['error']}" for s in record["samples"] if s["error"]]
        attempted = len(record["samples"]) + len(checks)
        failed = len(op_errors) + len(failures)
        e2e, sample_stats = metrics.end_to_end(record, launch)
        layers = metrics.per_layer(record, conf["cores"]) if args.trace else None
        values, declared = (layers, metrics.PER_LAYER) if args.trace else (e2e, metrics.END_TO_END)
        summary = {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in declared},
        }
        full = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": conf["cores"], "master": record["master"],
            "scale": w["scale"], "source_hash": build,
            "git_commit": git_commit(), "spark_version": record["spark_version"],
            "input_digests": digests, "error_rate": failed / attempted,
            "failed_ops": op_errors, "failed_checks": failures, "end_to_end": e2e,
            **sample_stats, "passes": record["passes"], "timed_s": record["timed_s"],
            "setup_s_at": {k: v / 1e3 - launch for k, v in record["setup_ms"].items()},
            "per_layer": layers,
            "layer_sum_over_10pct": [
                s["name"] for s in record["samples"] if s["traced"] and s["kind"] == "read"
                and s["error"] is None
                and metrics.read_layers(s, conf["cores"])["layer_sum_err"] > 0.1],
            "samples": [{k: v for k, v in s.items() if k != "trace"} for s in record["samples"]],
            "summary": summary,
        }
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
            json.dump(full, f)
        if args.trace:
            record["spans"] = [{"op": i, "spans": metrics.op_spans(s)}
                               for i, s in enumerate(record["samples"]) if s["traced"]]
            with open(os.path.join(WORK, "results", run_id + ".trace.json"), "w") as f:
                json.dump(record, f)
        for line in op_errors + [f"{q}: {why}" for q, why in failures.items()]:
            log(f"FAILED {line}")
        if full["layer_sum_over_10pct"]:
            log(f"layers miss the traced latency by >10% on {full['layer_sum_over_10pct']}")
        print(json.dumps(summary))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
