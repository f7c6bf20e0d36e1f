#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one.

    python3 perfbench/compare.py PARENT CHANGE    # verdict per (metric, workload)
    python3 perfbench/compare.py --summary RUNS   # medians + tracing overhead

PARENT, CHANGE and RUNS are directories of run records (the JSON files
`run.py` writes to `.bench_build/runs/`) or files holding `record: {...}`
lines. Runs whose CPU steal exceeded the benchmark's limit are left out.
The two sets must come from the same core count and the same input data;
otherwise nothing is compared.

Verdicts, per (metric, workload), with the metric's `better` direction and
`bound` from BENCHMARK.json (per-layer metrics have no bound):
  improved    the change wins at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
  unresolved  the parent's quartile spread is wider than the bound and not
              every change run beats every parent run;
  worse       the change's median is worse than the parent's by more than
              the bound (for a per-layer metric: the parent wins 9/10 of
              the pairs by more than its spread);
  unchanged   otherwise.
Pairs are runs with the same seed; without common seeds, runs are paired
in the order they were taken.
"""
import argparse
import glob
import json
import os
import statistics
import sys

WIN_SHARE = 0.9


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pair_win_share(parent, change, better):
    """Share of pairs the change wins; ties count for neither side."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    return wins / len(pairs)


def verdict(parent, change, better, bound):
    """Verdict for one (metric, workload); parent/change are paired lists."""
    sign = 1 if better == "higher" else -1
    p_q1, p_med, p_q3 = quartiles(parent)
    _, c_med, _ = quartiles(change)
    spread = p_q3 - p_q1
    gain = sign * (c_med - p_med)  # > 0: the change reads better
    if pair_win_share(parent, change, better) >= WIN_SHARE and gain > spread:
        return "improved"
    if bound is None:
        lost = pair_win_share(change, parent, better) >= WIN_SHARE
        return "worse" if lost and -gain > spread else "unchanged"
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if p_med and spread / abs(p_med) > bound and not all_better:
        return "unresolved"
    if p_med and -gain / abs(p_med) > bound:
        return "worse"
    return "unchanged"


def load_records(path):
    files = (sorted(glob.glob(os.path.join(path, "*.json")))
             if os.path.isdir(path) else [path])
    recs = []
    for f in files:
        with open(f) as fh:
            text = fh.read()
        if text.lstrip().startswith("{"):
            recs.append(json.loads(text))
        else:
            recs += [json.loads(line[len("record: "):])
                     for line in text.splitlines() if line.startswith("record: ")]
    return recs


def setting(recs):
    """The (cores, data) every record shares; exits if they differ."""
    keys = {(r["cores"], r["provenance"]["data"]) for r in recs}
    if len(keys) != 1:
        sys.exit(f"runs mix core counts / input data: {sorted(keys)}")
    return keys.pop()


def metric_values(recs, spec):
    """{(metric, workload): [(seed, value), ...]} in run order."""
    out = {}
    for r in recs:
        if r.get("interfered"):
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault((name, r["workload"]), []).append((r["seed"], m["value"]))
    return out


def paired(p, c):
    ps, cs = dict(p), dict(c)
    common = [s for s in ps if s in cs]
    if common:
        return [ps[s] for s in common], [cs[s] for s in common]
    n = min(len(p), len(c))
    return [v for _, v in p[:n]], [v for _, v in c[:n]]


def load_spec(path):
    with open(path) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    metrics.update({m["name"]: dict(m, bound=None) for m in spec["per_layer"]})
    return metrics


def fmt(x):
    return f"{x:.4g}"


def compare(parent_dir, change_dir, spec):
    prec, crec = load_records(parent_dir), load_records(change_dir)
    if not prec or not crec:
        sys.exit("no run records found")
    ps, cs = setting(prec), setting(crec)
    if ps != cs:
        sys.exit(f"refusing to compare: parent ran at {ps}, change at {cs} "
                 "(cores, data)")
    pv, cv = metric_values(prec, spec), metric_values(crec, spec)
    print(f"{'metric':28} {'workload':9} {'parent q1/med/q3':>26} "
          f"{'change q1/med/q3':>26} {'wins':>5}  verdict")
    for key in sorted(pv):
        if key not in cv or key[0] not in spec:
            continue
        m = spec[key[0]]
        p, c = paired(pv[key], cv[key])
        if not p:
            continue
        pq, cq = quartiles(p), quartiles(c)
        print(f"{key[0]:28} {key[1]:9} {'/'.join(map(fmt, pq)):>26} "
              f"{'/'.join(map(fmt, cq)):>26} "
              f"{pair_win_share(p, c, m['better']):5.2f}  "
              f"{verdict(p, c, m['better'], m['bound'])}")


def summary(runs_dir, spec):
    recs = load_records(runs_dir)
    if not recs:
        sys.exit("no run records found")
    cores, data = setting(recs)
    skipped = sum(1 for r in recs if r.get("interfered"))
    print(f"{len(recs)} runs at {cores} cores on {data}; "
          f"{skipped} left out for CPU steal")
    vals = metric_values(recs, spec)
    for (name, wl), xs in sorted(vals.items(), key=lambda kv: (kv[0][1], kv[0][0])):
        q1, med, q3 = quartiles([v for _, v in xs])
        spread = (q3 - q1) / med if med else 0.0
        unit = spec.get(name, {}).get("unit", "")
        print(f"{wl:8} {name:28} median {fmt(med):>10} {unit:6} "
              f"IQR/median {spread:6.1%}  n={len(xs)}")
    for wl in sorted({r["workload"] for r in recs}):
        plain = [r["ops_per_s"] for r in recs
                 if r["workload"] == wl and not r["trace"] and not r.get("interfered")]
        traced = [r["ops_per_s"] for r in recs
                  if r["workload"] == wl and r["trace"] and not r.get("interfered")]
        if plain and traced:
            a, b = statistics.median(plain), statistics.median(traced)
            print(f"{wl:8} tracing overhead {1 - b / a:+.1%} "
                  f"(ops_per_s {fmt(a)} untraced vs {fmt(b)} traced)")
        fails = [(r["failed"], r["attempted"], r["failures"]) for r in recs
                 if r["workload"] == wl]
        f, n = sum(x[0] for x in fails), sum(x[1] for x in fails)
        kinds = {}
        for _, _, by in fails:
            for k, v in by.items():
                kinds[k] = kinds.get(k, 0) + v
        print(f"{wl:8} failed ops {f}/{n} ({f / max(n, 1):.2%}) {kinds or ''}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="+")
    ap.add_argument("--summary", action="store_true")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args()
    spec = load_spec(a.bench)
    if a.summary:
        for d in a.dirs:
            summary(d, spec)
    elif len(a.dirs) == 2:
        compare(a.dirs[0], a.dirs[1], spec)
    else:
        ap.error("give PARENT and CHANGE, or --summary RUNS")


if __name__ == "__main__":
    main()
