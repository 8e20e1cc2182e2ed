#!/usr/bin/env python3
"""Compare two sets of benchmark results, or summarise one.

    python3 perfbench/compare.py PARENT CHANGE   # label every (workload, metric)
    python3 perfbench/compare.py --summary SET   # medians, quartiles, spreads
    python3 perfbench/compare.py --self-test     # a slowed series must be flagged

A set is a directory of run records (perfbench/results/*.json) or a file of
JSON lines as run.py prints them (the line that carries "workload"). Only
end-to-end runs (--trace 0) are compared. Directions and bounds come from
BENCHMARK.json.

Labels, per workload and end-to-end metric:
  better        the change wins at least 9/10 of the pairs and the medians
                differ by more than the parent's interquartile range
  worse         the change's median is worse than the parent's by more than
                the metric's bound, and either the parent's own spread is
                within the bound or the change loses 9/10 of the pairs
  within-bound  the change's median is no worse than the bound allows and
                the parent's own spread is within the bound
  unresolved    the parent's spread is wider than the bound, so the runs
                cannot tell a change from noise
Runs are paired by seed when both sets share seeds, else in run order; the
pairs rule needs at least ten pairs. Both modes also print `cpu_probe_s`, the
fixed single-thread loop run.py times before and after every run: the box's
own speed, so a shift that every workload shares can be read as ambient.
"""
import argparse
import glob
import json
import os
import random
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10
WIN_SHARE = 0.9


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


PROBE = "cpu_probe_s"


def probe(r):
    """Mean of the CPU probe taken before and after a run, if stamped."""
    env = r.get("env") or {}
    xs = [env.get("cpu_probe_s_before"), env.get("cpu_probe_s_after")]
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else None


def load(path):
    """[(workload, seed, order, {metric: value})] of the end-to-end runs in a
    set; the CPU probe of each run rides along as metric `cpu_probe_s`."""
    recs = []
    if os.path.isdir(path):
        for p in sorted(glob.glob(os.path.join(path, "*.json"))):
            if p.endswith(".trace.json"):
                continue
            with open(p) as f:
                r = json.load(f)
            recs.append((r, {m["name"]: m["value"] for m in r["metrics"]}))
    else:
        with open(path) as f:
            for line in f:
                if line.startswith("{") and '"workload"' in line:
                    r = json.loads(line)
                    recs.append((r, r["metrics"]))
    return [(r["workload"], r["seed"], i, dict(m, **{PROBE: probe(r)}))
            for i, (r, m) in enumerate(recs) if not r.get("trace")]


def series(runs, workload, metric):
    return [(seed, order, m[metric]) for w, seed, order, m in runs
            if w == workload and m.get(metric) is not None]


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def spread(v):
    q1, q3 = quartiles(v)
    return (q3 - q1) / statistics.median(v)


def pairs(p, c):
    """Pair by seed when the sets share seeds, else in run order."""
    cs = {s: x for s, _, x in c}
    if all(s in cs for s, _, _ in p) and len(cs) == len(c):
        return [(x, cs[s]) for s, _, x in p]
    p, c = sorted(p, key=lambda r: r[1]), sorted(c, key=lambda r: r[1])
    return [(a[2], b[2]) for a, b in zip(p, c)]


def judge(pairs_, p_vals, c_vals, better, bound):
    sign = 1.0 if better == "lower" else -1.0
    mp, mc = statistics.median(p_vals), statistics.median(c_vals)
    q1, q3 = quartiles(p_vals)
    worse_by = sign * (mc - mp) / mp
    wins = sum(1 for a, b in pairs_ if sign * (b - a) < 0)
    losses = sum(1 for a, b in pairs_ if sign * (b - a) > 0)
    n = len(pairs_)
    clear = n >= MIN_PAIRS and abs(mc - mp) > (q3 - q1)
    resolved = spread(p_vals) <= bound
    if clear and wins >= WIN_SHARE * n and worse_by < 0:
        verdict = "better"
    elif worse_by > bound and (resolved or (clear and losses >= WIN_SHARE * n)):
        verdict = "worse"
    elif not resolved:
        verdict = "unresolved"
    else:
        verdict = "within-bound"
    return {"parent_median": mp, "change_median": mc, "parent_q1": q1, "parent_q3": q3,
            "worse_by": worse_by, "wins": wins, "losses": losses, "pairs": n,
            "verdict": verdict}


def compare(parent, change, metrics):
    out = []
    for w in sorted({r[0] for r in parent} & {r[0] for r in change}):
        for name, m in metrics.items():
            p, c = series(parent, w, name), series(change, w, name)
            if not p or not c:
                continue
            out.append((w, name, judge(pairs(p, c), [x for _, _, x in p], [x for _, _, x in c],
                                       m["better"], m["bound"])))
    return out


def summary(runs, metrics):
    print(f"{'workload':<12} {'metric':<17} {'n':>3} {'median':>13} {'q1':>13} {'q3':>13} "
          f"{'spread':>7} {'bound':>6}")
    for w in sorted({r[0] for r in runs}):
        for name, m in metrics.items():
            v = [x for _, _, x in series(runs, w, name)]
            if v:
                q1, q3 = quartiles(v)
                s = spread(v)
                flag = "" if name == "setup_s" or s <= m["bound"] / 3 else \
                    "  > bound/3" if s <= m["bound"] else "  > bound"
                print(f"{w:<12} {name:<17} {len(v):>3} {statistics.median(v):>13.6g} "
                      f"{q1:>13.6g} {q3:>13.6g} {s:>7.4f} {m['bound']:>6}{flag}")
        v = [x for _, _, x in series(runs, w, PROBE)]
        if v:
            q1, q3 = quartiles(v)
            print(f"{w:<12} {PROBE:<17} {len(v):>3} {statistics.median(v):>13.6g} "
                  f"{q1:>13.6g} {q3:>13.6g} {spread(v):>7.4f}      -  (box speed, not a metric)")


def print_probe(parent, change):
    """The box's own speed in each set: a shift here is ambient, not code."""
    for w in sorted({r[0] for r in parent} & {r[0] for r in change}):
        p = [x for _, _, x in series(parent, w, PROBE)]
        c = [x for _, _, x in series(change, w, PROBE)]
        if p and c:
            mp, mc = statistics.median(p), statistics.median(c)
            print(f"{w:<12} {PROBE:<17} parent {mp:.4g} s, change {mc:.4g} s "
                  f"({mc / mp - 1:+.1%}; box speed, not a metric)")


def print_compare(rows):
    print(f"{'workload':<12} {'metric':<17} {'parent':>12} {'change':>12} {'worse_by':>9} "
          f"{'wins/losses/pairs':>17}  verdict")
    for w, name, j in rows:
        print(f"{w:<12} {name:<17} {j['parent_median']:>12.6g} {j['change_median']:>12.6g} "
              f"{j['worse_by']:>+9.4f} {j['wins']:>7}/{j['losses']}/{j['pairs']:<5}  {j['verdict']}")


def self_test(metrics):
    """Synthetic series with a known answer: noise alone stays within bound,
    a 40% slow-down is flagged worse, a 30% speed-up better, and a spread
    wider than the bound unresolved."""
    rng = random.Random(7)

    def runs(scale, noise=0.01):
        return [("pdf-custom", s, s, {"job_s": 1.5 * scale * rng.lognormvariate(0, noise),
                                      "docs_per_s": 2600 / scale * rng.lognormvariate(0, noise)})
                for s in range(1, 11)]

    parent = runs(1.0)
    cases = [("same code", runs(1.0), "within-bound"), ("slowed 40%", runs(1.4), "worse"),
             ("sped up 30%", runs(1 / 1.3), "better"),
             ("noisy parent", None, "unresolved")]
    ok = True
    for what, change, want in cases:
        p = parent
        if change is None:  # a parent whose spread exceeds the bound
            p, change = runs(1.0, noise=0.5), runs(1.0)
        for w, name, j in compare(p, change, {k: metrics[k] for k in ("job_s", "docs_per_s")}):
            good = j["verdict"] == want
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {what:<13} {name:<11} {j['verdict']:<13} "
                  f"(want {want}; worse_by {j['worse_by']:+.3f}, "
                  f"wins {j['wins']}/{j['pairs']}, losses {j['losses']}/{j['pairs']})")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sets", nargs="*", help="PARENT CHANGE, or one SET with --summary")
    ap.add_argument("--summary", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    metrics = contract()
    if a.self_test:
        sys.exit(0 if self_test(metrics) else 1)
    if a.summary and len(a.sets) == 1:
        summary(load(a.sets[0]), metrics)
    elif len(a.sets) == 2:
        parent, change = load(a.sets[0]), load(a.sets[1])
        print_compare(compare(parent, change, metrics))
        print_probe(parent, change)
    else:
        ap.error("give PARENT CHANGE, --summary SET or --self-test")


if __name__ == "__main__":
    main()
