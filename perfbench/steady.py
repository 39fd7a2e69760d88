#!/usr/bin/env python3
"""Steadiness check: run every workload back to back several times, with
the workload order alternating between rounds, and print for each
end-to-end metric its median, quartiles, quartile spread and max/min ratio
next to the bound BENCHMARK.json allows, plus the box.calib_ms sentinel
readings, the hypervisor's CPU steal share and the wall time of each run
(a moving sentinel or a high steal share means the machine drifted).

    python3 perfbench/steady.py [--runs 10] [--seed0 1000]
        [--workloads a,b] [--json out.json] [--against earlier.json]

Run from the repository root. --against compares this set's medians with
an earlier --json output, as a second set of runs of the same code.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def run_once(workload, seed, seconds):
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:  # no result at all; a failed check still prints one
        sys.stderr.write(p.stderr[-3000:])
        return None, None
    rec = json.load(open(f".bench_build/results/{workload}-s{seed}-t0.json"))
    rec["wall_s"] = time.time() - t
    return json.loads(lines[-1]), rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads")
    ap.add_argument("--json")
    ap.add_argument("--against")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = {w: [] for w in names}
    for i in range(a.runs):
        order = names if i % 2 == 0 else names[::-1]
        for w in order:
            seed = a.seed0 + i
            res, rec = run_once(w, seed, spec["run_seconds"])
            if res is None:
                print(f"{w} seed {seed}: run failed", flush=True)
                continue
            runs[w].append({"seed": seed, "correct": res["correct"],
                            "attempted": res["attempted"],
                            "failed": res["failed"],
                            "calib_ms": rec["calib_ms"], "steal": rec["steal"],
                            "wall_s": rec["wall_s"],
                            "metrics": {k: v["value"]
                                        for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"p50_ms={res['metrics']['p50_ms']['value']:.1f} "
                  f"calib_ms={rec['calib_ms'][0]:.1f}/{rec['calib_ms'][1]:.1f} "
                  f"steal={rec['steal']:.1%} wall={rec['wall_s']:.0f}s",
                  flush=True)
    earlier = json.load(open(a.against)) if a.against else None
    ok = True
    for w in names:
        rs = runs[w]
        print(f"\n== {w}: {len(rs)} runs, all correct: "
              f"{all(r['correct'] for r in rs)}, failed/attempted "
              f"{sorted({(r['failed'], r['attempted']) for r in rs})}")
        if len(rs) < 4:
            ok = False
            continue
        print(f"{'metric':18} {'median':>11} {'q1':>11} {'q3':>11} "
              f"{'spread':>7} {'max/min':>7} {'bound':>6}"
              + ("  2nd/1st" if earlier else ""))
        for m in bounds:
            v = [r["metrics"][m] for r in rs]
            q1, q2, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / q2
            line = (f"{m:18} {stats.median(v):11.4f} {q1:11.4f} {q3:11.4f} "
                    f"{spread:7.3f} {max(v) / min(v):7.3f} {bounds[m]:6.2f}")
            if spread > bounds[m]:
                ok = False
                line += "  SPREAD > BOUND"
            if earlier and w in earlier:
                prev = stats.median([r["metrics"][m]
                                     for r in earlier[w]])
                line += f"  {stats.median(v) / prev:7.3f}"
            print(line)
        c = [x for r in rs for x in r["calib_ms"]]
        print(f"box.calib_ms: median {stats.median(c):.1f}, "
              f"min {min(c):.1f}, max {max(c):.1f}; CPU steal per run: "
              + " ".join(f"{r['steal']:.1%}" for r in rs)
              + f"; wall per run {min(r['wall_s'] for r in rs):.0f}–"
              f"{max(r['wall_s'] for r in rs):.0f} s")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
