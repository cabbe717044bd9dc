#!/usr/bin/env python3
"""Compare two sets of benchmark runs, parent against change.

    python3 perfbench/compare.py <parent_results_dir> <change_results_dir>

Each directory holds the full records run.py writes to
perfbench/.work/results/ (copy them aside per commit). For every workload
and end-to-end metric it prints both sides' median and quartiles, the share
of run pairs the change wins, and a verdict against the metric's bound in
BENCHMARK.json; then, from the traced runs, per-layer medians, their deltas,
the layer predictions of layers.json and the tracing overhead (traced runs'
latency_gmean against the untraced runs').

Verdicts (paired by seed where both sides ran it, else by run order):
  better      the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's interquartile range
  worse       the change's median is worse than the parent's by more than
              the bound
  unresolved  the parent's own spread exceeds the bound, and not every
              change run beats every parent run
  same        none of the above
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".trace.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(parent, change, metric, source):
    by_seed = {r["seed"]: r[source][metric] for r in parent}
    matched = [(by_seed[r["seed"]], r[source][metric]) for r in change if r["seed"] in by_seed]
    if matched:
        return matched
    return list(zip([r[source][metric] for r in parent], [r[source][metric] for r in change]))


def verdict(pv, cv, prs, bound, lower_is_better):
    better = (lambda c, p: c < p) if lower_is_better else (lambda c, p: c > p)
    q1, pm, q3 = quartiles(pv)
    cm = statistics.median(cv)
    share = sum(1 for p, c in prs if better(c, p)) / len(prs) if prs else 0.0
    if share >= 0.9 and abs(cm - pm) > q3 - q1:
        return "better", share
    if pm and (cm - pm) / abs(pm) * (1 if lower_is_better else -1) > bound:
        return "worse", share
    if pm and (q3 - q1) / abs(pm) > bound and not all(better(c, p) for c in cv for p in pv):
        return "unresolved", share
    return "same", share


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        predictions = json.load(f)["predictions"]
    workloads = [w["name"] for w in bench["workloads"]]

    print("== end to end (untraced runs) ==")
    print(f"{'workload':14} {'metric':16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'won':>5} {'bound':>6} verdict")
    for w in workloads:
        p, c = parent.get((w, 0), []), change.get((w, 0), [])
        if not p or not c:
            print(f"{w:14} (no untraced runs on {'both sides' if not p and not c else 'one side'})")
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            pv = [r["end_to_end"][name] for r in p]
            cv = [r["end_to_end"][name] for r in c]
            v, share = verdict(pv, cv, pairs(p, c, name, "end_to_end"), m["bound"],
                               m["better"] == "lower")
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in quartiles(xs))
            print(f"{w:14} {name:16} {fmt(pv):>30} {fmt(cv):>30} {share:5.0%} "
                  f"{m['bound']:6.2f} {v}")
        errs = [r["error_rate"] for r in c]
        if any(errs):
            failed = sorted({x for r in c for x in r["failed_ops"] + list(r["failed_checks"])})
            print(f"{w:14} change error_rate up to {max(errs):.3f}: {failed}")

    print("\n== per layer (traced runs; medians, change - parent) ==")
    for w in workloads:
        p, c = parent.get((w, 1), []), change.get((w, 1), [])
        if not p or not c:
            continue
        print(f"-- {w}")
        for m in bench["per_layer"]:
            name = m["name"]
            pm = statistics.median(r["per_layer"][name] for r in p)
            cm = statistics.median(r["per_layer"][name] for r in c)
            if pm == 0 and cm == 0:
                continue
            note = [("moves " + x["moves"]) if x["moves"] else "predicted no change"
                    for x in predictions if x["layer_metric"] == name and x["workload"] == w]
            rel = f"{(cm - pm) / abs(pm):+.1%}" if pm else "   n/a"
            print(f"   {name:46} {pm:12.5g} {cm:12.5g} {cm - pm:+12.4g} {rel:>8}  {'; '.join(note)}")
        for side, traced_runs, plain_runs in (("parent", p, parent.get((w, 0), [])),
                                              ("change", c, change.get((w, 0), []))):
            if plain_runs:
                traced = statistics.median(r["per_layer"]["trace.latency_gmean_s"] for r in traced_runs)
                plain = statistics.median(r["end_to_end"]["latency_gmean_s"] for r in plain_runs)
                print(f"   tracing overhead ({side}): latency_gmean traced {traced:.4g} s, "
                      f"untraced {plain:.4g} s, overhead {traced - plain:+.4g} s "
                      f"({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
