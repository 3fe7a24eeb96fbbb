#!/usr/bin/env python3
"""Compare the benchmark records of two commits.

    python3 perfbench/compare.py BASE HEAD

BASE and HEAD are run-record files written by run.py (one JSON object per
line). Either may be suffixed with @PREFIX to keep only the records whose
git sha or source digest starts with PREFIX, so both sides can come from
one shared file: records.jsonl@1a2b3c records.jsonl@4d5e6f.

For every workload and end-to-end metric it prints both medians and
quartiles, the pair wins (runs paired by seed) and a verdict, by the
first rule that applies:

  worse           the head median is worse than the base median by more
                  than the metric's bound in BENCHMARK.json (a regression,
                  whatever the pairs say);
  better / worse  every head run beats (loses to) every base run;
  unresolved      either side's spread (IQR / median) exceeds the bound;
  better / worse  at least 9 of 10 pairs move the same way AND the medians
                  differ by more than the base's interquartile range;
  no change       otherwise.

Runs started on a loaded host (more than DISCARD_BUSY_CORES cores busy in
the second before the run) and runs that failed a check are discarded.
From traced runs it prints per-layer metrics and per-span self times.
"""
import argparse
import json
import os
import statistics
import sys

DISCARD_BUSY_CORES = 1.0
WIN_SHARE = 0.9
TAIL_Q = 0.9
TAIL_BEYOND = 10

HERE = os.path.dirname(os.path.abspath(__file__))


def load(arg):
    path, _, prefix = arg.partition("@")
    kept, dropped = [], []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            if prefix and not any((r.get(k) or "").startswith(prefix)
                                  for k in ("git_sha", "src_digest")):
                continue
            loaded = r.get("host_busy_cores_before", 0) > DISCARD_BUSY_CORES
            bad = not r["result"]["correct"] or r["result"]["failed"] > 0
            (dropped if loaded or bad else kept).append(r)
    return kept, dropped


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def by_seed(rs, name):
    out = {}
    for r in rs:
        if name in r["metrics"]:
            out.setdefault(r["seed"], []).append(r["metrics"][name])
    return {s: statistics.median(v) for s, v in out.items()}


def verdict(base, head, better, bound):
    """Return (verdict, detail) for one metric; base/head are seed→value."""
    bv, hv = list(base.values()), list(head.values())
    bq1, bmed, bq3 = quartiles(bv)
    hq1, hmed, hq3 = quartiles(hv)
    bspread = (bq3 - bq1) / bmed if bmed else float("inf")
    hspread = (hq3 - hq1) / hmed if hmed else float("inf")
    seeds = sorted(set(base) & set(head))
    sign = -1 if better == "lower" else 1
    wins = sum(1 for s in seeds if sign * (head[s] - base[s]) > 0)
    losses = sum(1 for s in seeds if sign * (head[s] - base[s]) < 0)
    moved = abs(hmed - bmed) > (bq3 - bq1)
    gain = sign * (hmed - bmed) / bmed if bmed else 0.0
    if gain < -bound:
        v = "worse"
    elif all(sign * (h - b) > 0 for h in hv for b in bv):
        v = "better"
    elif all(sign * (h - b) < 0 for h in hv for b in bv):
        v = "worse"
    elif max(bspread, hspread) > bound:
        v = "unresolved"
    elif seeds and moved and wins >= WIN_SHARE * len(seeds):
        v = "better"
    elif seeds and moved and losses >= WIN_SHARE * len(seeds):
        v = "worse"
    else:
        v = "no change"
    detail = (f"base {bmed:.4g} [{bq1:.4g},{bq3:.4g}] spread {bspread:.3f}  "
              f"head {hmed:.4g} [{hq1:.4g},{hq3:.4g}] spread {hspread:.3f}  "
              f"wins {wins}/{len(seeds)}")
    return v, detail


def pooled_tail(rs):
    lat = sorted(x for r in rs for x in r.get("latencies", []))
    if len(lat) * (1 - TAIL_Q) < TAIL_BEYOND:
        return None, len(lat)
    return statistics.quantiles(lat, n=100)[int(TAIL_Q * 100) - 1], len(lat)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE),
                                                   "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.spec) as f:
        spec = json.load(f)
    base, bdrop = load(a.base)
    head, hdrop = load(a.head)
    print(f"records: base {len(base)} kept, {len(bdrop)} discarded; "
          f"head {len(head)} kept, {len(hdrop)} discarded")
    if not base or not head:
        sys.exit("no comparable records")

    for w in [w["name"] for w in spec["workloads"]]:
        bu = [r for r in base if r["workload"] == w and not r["trace"]]
        hu = [r for r in head if r["workload"] == w and not r["trace"]]
        bt = [r for r in base if r["workload"] == w and r["trace"]]
        ht = [r for r in head if r["workload"] == w and r["trace"]]
        if not (bu and hu) and not (bt and ht):
            continue
        print(f"\n== {w}: {len(bu)}/{len(hu)} untraced, {len(bt)}/{len(ht)} traced runs")
        if bu and hu:
            for m in spec["end_to_end"]:
                v, d = verdict(by_seed(bu, m["name"]), by_seed(hu, m["name"]),
                               m["better"], m["bound"])
                print(f"  {m['name']:<24} {v:<11} {d}")
            (bt_, bn), (ht_, hn) = pooled_tail(bu), pooled_tail(hu)
            if bt_ is not None and ht_ is not None:
                print(f"  pooled p{int(TAIL_Q * 100)} latency: base {bt_:.4g} s "
                      f"({bn} answers), head {ht_:.4g} s ({hn} answers)")
        if bt and ht:
            print("  per-layer (traced runs, medians):")
            for m in spec["per_layer"]:
                bv = [r["metrics"][m["name"]] for r in bt if m["name"] in r["metrics"]]
                hv = [r["metrics"][m["name"]] for r in ht if m["name"] in r["metrics"]]
                if bv and hv:
                    b, h = statistics.median(bv), statistics.median(hv)
                    rel = f"{(h - b) / b:+.1%}" if b else ""
                    print(f"    {m['name']:<26} {b:>12.4g} {h:>12.4g} {rel}")
            print("  span self time per timed call (traced runs, medians, s):")
            names = sorted({k for r in bt + ht for k in r["spans"]})
            for k in names:
                bv = [r["spans"][k] for r in bt if k in r["spans"]]
                hv = [r["spans"][k] for r in ht if k in r["spans"]]
                if bv and hv:
                    b, h = statistics.median(bv), statistics.median(hv)
                    print(f"    {k:<26} {b:>10.4f} {h:>10.4f} {h - b:+.4f}")
            for side, tr, un in (("base", bt, bu), ("head", ht, hu)):
                if tr and un:
                    t = statistics.median(r["metrics"]["sspr_latency_p50_s"] for r in tr)
                    u = statistics.median(r["metrics"]["sspr_latency_p50_s"] for r in un)
                    print(f"  {side} trace overhead across modes "
                          f"(traced/untraced p50 - 1): {t / u - 1:+.3f}")


if __name__ == "__main__":
    main()
