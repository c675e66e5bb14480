#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RECORDS CHANGE_RECORDS

Each argument is a directory of run records (run.py writes them to
.bench_build/records/ in the checkout it ran in). Untraced runs are compared
per workload and end-to-end metric; runs with the same seed are paired,
and the rest are paired in the order they ran.

For each pair of workload and metric it prints both sides' median and
quartiles, the share of pairs the change won (ties count for neither side)
and a verdict:

  improved    the change won at least 9 of 10 pairs and the medians differ
              by more than the parent's own quartile spread;
  unresolved  the parent's quartile spread is wider than the metric's bound
              and not every change run beats every parent run;
  worse       the change's median is worse than the parent's by more than
              the bound;
  no worse    otherwise.

It then compares the failed fraction of operations: a gain does not count
when more operations fail than at the parent. Last, it prints how many runs
on each side run.py flagged as disturbed by the host (CPU steal or load, see
NOISY_* in run.py): a verdict that rests on disturbed runs wants a rerun.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(d):
    runs = []
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if r.get("trace") == 0:
            runs.append(r)
    return runs


def noisy(runs):
    flagged = [f"s{r['seed']}: {r['host_noisy']}" for r in runs if r.get("host_noisy")]
    return f"{len(flagged)}/{len(runs)}" + (f" ({'; '.join(flagged)})" if flagged else "")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(parent, change):
    by_seed = {r["seed"]: r for r in change}
    out, rest_p = [], []
    for r in parent:
        if r["seed"] in by_seed:
            out.append((r, by_seed.pop(r["seed"])))
        else:
            rest_p.append(r)
    out += list(zip(rest_p, [r for r in change if r["seed"] in by_seed]))
    return out


def verdict(pv, cv, won, n_pairs, better, bound):
    sign = 1 if better == "lower" else -1  # positive = worse
    p1, pm, p3 = quartiles(pv)
    c1, cm, c3 = quartiles(cv)
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    rel = sign * (cm - pm) / abs(pm) if pm else float("inf")
    every_better = all(sign * (c - p) < 0 for c in cv for p in pv)
    if n_pairs and won >= 0.9 * n_pairs and sign * (cm - pm) < 0 and abs(cm - pm) > (p3 - p1):
        return "improved", rel
    if spread > bound and not every_better:
        return "unresolved", rel
    if rel > bound:
        return "worse", rel
    return "no worse", rel


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    workloads = [w["name"] for w in spec["workloads"]]
    fmt = "{:<14} {:<22} {:>30} {:>30} {:>6} {:>8}  {}"
    print(fmt.format("workload", "metric", "parent q1/med/q3", "change q1/med/q3",
                     "won", "change", "verdict"))
    for w in workloads:
        pw = [r for r in parent if r["workload"] == w]
        cw = [r for r in change if r["workload"] == w]
        if not pw or not cw:
            print(f"{w}: no runs on {'parent' if not pw else 'change'} side")
            continue
        pp = pairs(pw, cw)
        for m in metrics:
            name = m["name"]
            pv = [r["metrics"][name] for r in pw if r["metrics"].get(name) is not None]
            cv = [r["metrics"][name] for r in cw if r["metrics"].get(name) is not None]
            if not pv or not cv:
                continue
            sign = 1 if m["better"] == "lower" else -1
            ok = [(a["metrics"].get(name), b["metrics"].get(name)) for a, b in pp]
            ok = [(a, b) for a, b in ok if a is not None and b is not None]
            won = sum(1 for a, b in ok if sign * (b - a) < 0)
            v, rel = verdict(pv, cv, won, len(ok), m["better"], m["bound"])
            qp = "/".join(f"{x:.4g}" for x in quartiles(pv))
            qc = "/".join(f"{x:.4g}" for x in quartiles(cv))
            print(fmt.format(w, name, qp, qc, f"{won}/{len(ok)}", f"{sign * rel:+.1%}", v))
        pf = statistics.median(r["failed_frac"] for r in pw)
        cf = statistics.median(r["failed_frac"] for r in cw)
        pq = sorted({q for r in pw for q in r["failed_ops"]})
        cq = sorted({q for r in cw for q in r["failed_ops"]})
        note = "more operations fail: no gain counts" if cf > pf else "ok"
        print(f"{w:<14} failed_frac parent {pf:.4f} {pq} change {cf:.4f} {cq}: {note}")
        print(f"{w:<14} host-disturbed runs parent {noisy(pw)} change {noisy(cw)}")


if __name__ == "__main__":
    main()
