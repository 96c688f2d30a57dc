#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <base> <candidate>

<base> and <candidate> are directories (or record files) holding the
`*.record.json` files that perfbench/run.py keeps under
.perfbench/records/. For each workload and metric the tool prints each
side's median and quartiles, the fraction of (base, candidate) pairs the
candidate wins, and a verdict against the metric's bound in
BENCHMARK.json:

  improved    the candidate wins at least 9/10 of all pairs (ties count
              for neither) and the medians differ by more than the base
              runs' own quartile spread;
  worse       the candidate median is worse than the base median by more
              than the bound;
  unchanged   not worse by more than the bound, and the base spread
              (quartile distance / median) is within the bound;
  unresolved  the spread is wider than the bound and the candidate does
              not beat every base run.

End-to-end metrics come from untraced runs. The record's workload
metrics (its detail) get the same treatment against DETAIL_BOUND; they
are reported, but only a registered end-to-end metric that reads worse
sets the exit code. Per-layer
metrics come from traced runs and are printed as medians, with `exact`
where a count repeats in every run. The tracing overhead is the traced
runs' round median against the untraced one. Each side's class MD5s are
listed, so identical code can be shown, with the CPU time the host took
away (steal) during the runs, so a noisy machine can be told from a
slower program.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the bound the workload metrics (a record's detail) are judged against
DETAIL_BOUND = 0.1


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.record.json"))) \
        if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(recs, workload, section, name, traced):
    out = []
    for r in recs:
        if r["workload"] != workload or bool(r["trace"]) != traced:
            continue
        if section == "detail":
            m = r["detail"].get("workload_metrics", {})
        else:
            m = r[section]
        if name in m and m[name]["value"] is not None:
            out.append(m[name]["value"])
    return out


def verdict(base, cand, better, bound):
    lower = better == "lower"
    wins = ties = 0
    for a in base:
        for b in cand:
            if a == b:
                ties += 1
            elif (b < a) == lower:
                wins += 1
    pairs = len(base) * len(cand)
    win_frac = wins / pairs
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(cand)
    spread = (bq3 - bq1) / bmed if bmed else float("inf")
    worse_by = ((cmed - bmed) if lower else (bmed - cmed)) / bmed if bmed else 0.0
    all_better = all((b < a) == lower and a != b for a in base for b in cand)
    if bound is None:
        v = "-"
    elif win_frac >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return win_frac, spread, worse_by, v


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("candidate")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    base, cand = load(a.base), load(a.candidate)
    if not base or not cand:
        sys.exit("no records on one side")
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in cand})
    for side, recs in (("base", base), ("candidate", cand)):
        md5s = sorted({r["provenance"].get("classes_md5", "?") for r in recs})
        steal = [r["provenance"].get("cpu_steal_pct", 0.0) for r in recs]
        print(f"{side}: {len(recs)} records, classes_md5 {', '.join(md5s)}, "
              f"CPU steal median {statistics.median(steal):.1f} % max {max(steal):.1f} %")
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    header = (f"{'workload':14} {'metric':34} {'base med [q1,q3]':30} "
              f"{'cand med [q1,q3]':30} {'n':>5} {'win':>5} {'spread':>7} verdict")
    print(header)
    failed = False
    for w in workloads:
        plain = [r for r in base if r["workload"] == w and not r["trace"]]
        rows = [("end_to_end", n, m["better"], m["bound"]) for n, m in e2e.items()]
        names = sorted({k for r in plain for k in r["detail"].get("workload_metrics", {})})
        rows += [("detail", n, "higher" if n == "drain_rows_per_s" else "lower",
                  DETAIL_BOUND) for n in names]
        for section, name, dirn, bound in rows:
            bv = values(base, w, section, name, False)
            cv = values(cand, w, section, name, False)
            if not bv or not cv:
                continue
            win, spread, _, v = verdict(bv, cv, dirn, bound)
            failed |= v == "worse" and section == "end_to_end"
            b1, bm, b3 = quartiles(bv)
            c1, cm, c3 = quartiles(cv)
            print(f"{w:14} {name:34} {fmt(bm):>9} [{fmt(b1)},{fmt(b3)}]".ljust(81) +
                  f"{fmt(cm):>9} [{fmt(c1)},{fmt(c3)}]".ljust(31) +
                  f"{len(bv)}/{len(cv):<3} {win:5.2f} {spread:7.3f} {v}")
        # tracing overhead and per-layer medians from traced runs
        for side, recs in (("base", base), ("candidate", cand)):
            traced = values(recs, w, "per_layer", "trace.round_p50_ms", True)
            plain = values(recs, w, "end_to_end", "round_p50_ms", False)
            if traced and plain:
                t, p = statistics.median(traced), statistics.median(plain)
                print(f"{w:14} tracing overhead ({side}): traced round {fmt(t)} ms vs "
                      f"untraced {fmt(p)} ms = {100 * (t / p - 1):+.1f} %")
        layer = [m["name"] for m in spec["per_layer"]]
        for name in layer:
            bv = values(base, w, "per_layer", name, True)
            cv = values(cand, w, "per_layer", name, True)
            if not bv or not cv or (not any(bv) and not any(cv)):
                continue
            exact = " exact" if len(set(bv + cv)) == 1 else ""
            print(f"{w:14} {name:44} base {fmt(statistics.median(bv)):>10} "
                  f"cand {fmt(statistics.median(cv)):>10}{exact}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
