#!/usr/bin/env python3
"""Compare two sets of benchmark artifacts, or check that one set is steady.

    python3 perfbench/compare.py BASE CHANGE
    python3 perfbench/compare.py --steady RUNS [RUNS2]

BASE, CHANGE and RUNS are directories of run artifacts (the JSON files
`run.py` leaves in `.bench_build/perfbench/artifacts`), or single files.

Two sets: per workload and end-to-end metric, each side's median and
quartiles and whether the change stays within the metric's bound in
BENCHMARK.json; then, from traced artifacts, per-layer self-time deltas
with the counters that explain them; then tracing overhead (traced vs
untraced `op_p50_s`) where a side has both.

--steady: per workload and metric, the spread (interquartile range over
the median) against the bound and a third of it. With a second set of
the same code, also whether its median moved by more than the bound.
Exits 1 when a bound is broken.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"]}


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.json")))
    runs = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "header" in a:
            runs.append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def by_workload(runs, traced):
    out = {}
    for a in runs:
        if bool(a["header"]["trace"]) == traced:
            out.setdefault(a["header"]["workload"], []).append(a)
    return out


def series(runs, key, metric):
    return [a[key][metric] for a in runs
            if a.get(key, {}).get(metric) is not None]


def fmt(x):
    return f"{x:.4g}"


def worse_by(m, base, change):
    """Share of the base median by which `change` is worse (<0: better)."""
    if base == 0:
        return 0.0
    d = (change - base) / abs(base)
    return d if m["better"] == "lower" else -d


def compare(base, change, bench):
    ok = True
    bu, cu = by_workload(base, False), by_workload(change, False)
    for w in sorted(set(bu) & set(cu)):
        print(f"== {w} ({len(bu[w])} base runs, {len(cu[w])} change runs)")
        for name, m in bench.items():
            b, c = series(bu[w], "end_to_end", name), series(cu[w], "end_to_end", name)
            if not b or not c:
                continue
            bq, cq = quartiles(b), quartiles(c)
            d = worse_by(m, bq[1], cq[1])
            verdict = "ok" if d <= m["bound"] else "WORSE"
            ok &= verdict == "ok"
            print(f"  {name:14} base {fmt(bq[1])} [{fmt(bq[0])}, {fmt(bq[2])}]  "
                  f"change {fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}] {m['unit']}  "
                  f"{(cq[1] - bq[1]) / abs(bq[1]) * 100 if bq[1] else 0:+.1f}%  "
                  f"bound {m['bound']:.0%}: {verdict}")
    layer_deltas(by_workload(base, True), by_workload(change, True))
    for side, runs in (("base", base), ("change", change)):
        overhead(side, runs)
    return ok


def span_medians(runs):
    """name -> {field: median over runs} of the per-span layer table."""
    acc = {}
    for a in runs:
        for name, row in a.get("span_layers", {}).items():
            for k, v in row.items():
                acc.setdefault(name, {}).setdefault(k, []).append(v)
    return {n: {k: statistics.median(v) for k, v in f.items()}
            for n, f in acc.items()}


def layer_deltas(bt, ct):
    for w in sorted(set(bt) & set(ct)):
        b, c = span_medians(bt[w]), span_medians(ct[w])
        rows = []
        for name in sorted(set(b) | set(c)):
            x, y = b.get(name, {}), c.get(name, {})
            d = y.get("self_s", 0.0) - x.get("self_s", 0.0)
            why = []
            for k, unit in (("commits", ""), ("files_written", ""),
                            ("jobs", ""), ("driver_gap_s", " s"),
                            ("task_s", " s"), ("shuffle_write_mb", " MB")):
                dk = y.get(k, 0.0) - x.get(k, 0.0)
                why.append(f"{k} unchanged" if abs(dk) < 1e-9
                           else f"{k} {dk:+.3g}{unit}")
            rows.append((abs(d), f"  {name} {d:+.3f} s: " + ", ".join(why)))
        if rows:
            print(f"== {w} per-layer self time, change minus base (traced medians)")
            for _, line in sorted(rows, reverse=True):
                print(line)


def overhead(side, runs):
    plain, traced = by_workload(runs, False), by_workload(runs, True)
    for w in sorted(set(plain) & set(traced)):
        p = series(plain[w], "end_to_end", "op_p50_s")
        t = series(traced[w], "end_to_end", "op_p50_s")
        if p and t:
            mp, mt = statistics.median(p), statistics.median(t)
            print(f"  tracing overhead {side} {w}: op_p50_s {fmt(mt)} traced vs "
                  f"{fmt(mp)} untraced ({(mt - mp) / mp * 100:+.1f}%)")


def steady(first, second, bench):
    ok = True
    f, s = by_workload(first, False), by_workload(second or [], False)
    for w in sorted(f):
        print(f"== {w} ({len(f[w])} runs)")
        for name, m in bench.items():
            xs = series(f[w], "end_to_end", name)
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / abs(med) if med else float("inf")
            verdict = ("steady" if spread < m["bound"] / 3 else
                       "within bound" if spread <= m["bound"] else "TOO WIDE")
            ok &= verdict != "TOO WIDE"
            line = (f"  {name:14} median {fmt(med)} {m['unit']}  spread "
                    f"{spread:.1%} (bound {m['bound']:.0%}): {verdict}")
            if w in s:
                ys = series(s[w], "end_to_end", name)
                if ys:
                    d = worse_by(m, med, statistics.median(ys))
                    line += f"; second set {d:+.1%} " + (
                        "ok" if d <= m["bound"] else "MOVED")
                    ok &= d <= m["bound"]
            print(line)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sets", nargs="+")
    ap.add_argument("--steady", action="store_true")
    a = ap.parse_args()
    bench = load_bench()
    sets = [load(p) for p in a.sets]
    if a.steady:
        ok = steady(sets[0], sets[1] if len(sets) > 1 else None, bench)
    else:
        if len(sets) != 2:
            sys.exit("give two artifact sets: BASE CHANGE")
        ok = compare(sets[0], sets[1], bench)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
