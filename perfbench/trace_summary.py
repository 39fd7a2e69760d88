#!/usr/bin/env python3
"""Summarise traced runs: per workload, each layer's self time per
operation (span time minus the part its child spans cover) next to the
layer counters, and the tracing overhead, i.e. traced against untraced
p50_ms, write_p50_ms and read_p50_ms over the runs on record.

    python3 perfbench/trace_summary.py [results dir]

Reads the run records perfbench/run.py leaves in .bench_build/results.
"""
import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def covered(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi)."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans):
    """Self time by span name, summed over the timed operations."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        if s["op"] < 0:
            continue  # warm-up
        out[s["name"]] += (s["end"] - s["start"]) - covered(
            kids[s["id"]], s["start"], s["end"])
    return out


def p50s(rec):
    lat = stats.latencies(rec["workload"], rec["ops"], rec["sub_ops"])
    return {f"{k}_p50_ms" if k != "main" else "p50_ms": stats.median(v)
            for k, v in lat.items() if v}


def main():
    d = sys.argv[1] if len(sys.argv) > 1 else ".bench_build/results"
    recs = [json.load(open(f)) for f in sorted(glob.glob(f"{d}/*.json"))]
    for w in sorted({r["workload"] for r in recs}):
        traced = [r for r in recs if r["workload"] == w and r["trace"] == 1]
        plain = [r for r in recs if r["workload"] == w and r["trace"] == 0]
        print(f"== {w}: {len(traced)} traced, {len(plain)} untraced runs")
        if traced:
            n_ops = sum(len(r["ops"]) for r in traced)
            self_ms = defaultdict(float)
            for r in traced:
                for k, v in self_times(r["spans"]).items():
                    self_ms[k] += v
            busy = sum(o["ms"] for r in traced for o in r["ops"])
            print(f"{'span':24} {'self ms/op':>11} {'share':>7}")
            for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1]):
                print(f"{k:24} {v / n_ops:11.1f} {v / busy:7.1%}")
            layers = traced[-1]["result"]["metrics"]
            print("counters (last traced run):")
            for k, v in layers.items():
                if v["value"] and not k.startswith("queries.") or \
                        k in ("queries.build_ms", "queries.plan_ms",
                              "queries.exec_ms"):
                    print(f"  {k:34} {v['value']:12.3f} {v['unit']}")
        if traced and plain:
            t = [p50s(r) for r in traced]
            u = [p50s(r) for r in plain]
            for m in ("p50_ms", "write_p50_ms", "read_p50_ms"):
                tv = [x[m] for x in t if m in x]
                uv = [x[m] for x in u if m in x]
                if tv and uv:
                    a, b = stats.median(tv), stats.median(uv)
                    print(f"overhead {m:13} traced {a:9.1f}  untraced {b:9.1f}"
                          f"  ({a / b - 1:+.1%})")
        print()


if __name__ == "__main__":
    main()
