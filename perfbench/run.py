#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine together
with the harness (perfbench/build.sbt) into .bench_build/; later runs reuse
the build until a source file changes. Each run generates its inputs from
the seed, starts one JVM that sets up, warms up and times a fixed number
of closed-loop operations, checks every output against an independent
computation (oracle.py), and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json, or with --trace 1 its
per-layer metrics. The exit code is 0 only if every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CPUS = 1
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150

# Operations per second of --seconds, measured on the reference VM
# (README.md). A run's length is a count of operations, not a span of
# time, so two commits always do the same work; --seconds scales it.
# The input sizes and where they come from: README.md, "Inputs".
WORKLOADS = {
    "medallion_stream": {"warmup": 3, "per_s": 0.3, "min_ops": 3, "whole": 3,
                         "batch_events": 5000},
    "lake_dml": {"warmup": 2, "per_s": 0.2, "min_ops": 3,
                 "initial_rows": 100_000, "cdc_rows": 1000},
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for q in files:
            st = os.stat(q)
            h.update(f"{q}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per checkout (and again after a source change); return
    the runtime classpath."""
    cp_file, stamp_file = f"{BUILD}/classpath.txt", f"{BUILD}/stamp.txt"
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the engine and the harness (sbt) ...")
    t = time.time()
    with open(f"{BUILD}/build.log", "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0:
        fail(f"build failed, see {BUILD}/build.log")
    lines = [ln.strip() for ln in open(f"{BUILD}/build.log")
             if ".bench_build" in ln and "classes" in ln and
             not ln.startswith("[")]
    if not lines:
        fail(f"build printed no classpath, see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return lines[-1]


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, cfg, ops, work):
    """Generate the run's inputs; returns (JVM arguments, metadata)."""
    inp = f"{work}/in"
    n = cfg["warmup"] + ops
    if workload == "medallion_stream":
        meta = gen.gen_stream(inp, seed, n, cfg["batch_events"])
        return {"inputs": inp, "batch_events": cfg["batch_events"]}, meta
    meta = gen.gen_lake(inp, seed, n, cfg["initial_rows"], cfg["cdc_rows"])
    with open(f"{inp}/reads.txt", "w") as f:
        for r in meta["reads"]:
            f.write(f"{r['from_day']} {','.join(map(str, r['keys']))}\n")
    return {"inputs": inp}, meta


# --------------------------------------------------------------- metrics

def end_to_end(workload, res, setup_s):
    lat = stats.latencies(workload, res["ops"], res["sub_ops"])
    ok = [o for o in res["ops"] if o["ok"]]
    if workload == "medallion_stream":  # events per second of freshness
        work, busy = sum(o["work"] for o in ok if o["kind"] == "fresh"), \
            sum(lat["main"])
    else:                               # operations per second
        work, busy = len(ok), sum(o["ms"] for o in ok)
    return {
        "setup_s": setup_s,
        "p50_ms": stats.median(lat["main"]),
        "throughput_per_s": 1000.0 * work / busy,
        "write_p50_ms": stats.median(lat["write"]),
        "read_p50_ms": stats.median(lat["read"]),
        "stored_mb": res["check"]["stored_mb"],
    }


def per_layer(res, inputs_s, names):
    m = {n: 0.0 for n in names}  # a layer the workload does not touch reads 0
    m.update(res["layers"])
    m["setup.session_s"] = res["session_s"]
    m["setup.inputs_s"] = inputs_s
    m["setup.warmup_s"] = res["warmup_s"]
    m["box.calib_ms"] = sum(res["calib_ms"]) / len(res["calib_ms"])
    unknown = set(m) - set(names)
    if unknown:
        fail(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {n: m[n] for n in names}


def _cpu_ticks():
    """The machine's aggregate CPU tick counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_share(a, b):
    """Share of CPU time the hypervisor gave to others between a and b."""
    if not a or not b or len(a) < 8:
        return 0.0
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d[:8]))


# ------------------------------------------------------------------ main

def main():
    # a terminated run still stops its JVM (subprocess.run kills the child
    # on any exception) and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="Spark task slots (default 1)")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    for need in ("BENCHMARK.json", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the repository root")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cfg = WORKLOADS[a.workload]
    ops = max(cfg["min_ops"], round(a.seconds * cfg["per_s"]))
    ops += -ops % cfg.get("whole", 1)  # whole rounds of the query list

    classpath = build()
    work = f"{BUILD}/work/{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        t = time.time()
        jargs, meta = make_inputs(a.workload, a.seed, cfg, ops, work)
        inputs_s = time.time() - t
        out = f"{work}/result.json"
        cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}",
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
               + ADD_OPENS + ["-cp", classpath, "perfbench.Main",
                              "--workload", a.workload, "--work", work,
                              "--out", out, "--cpus", str(a.cpus),
                              "--trace", str(a.trace),
                              "--warmup", str(cfg["warmup"]), "--ops", str(ops)])
        for k, v in jargs.items():
            cmd += [f"--{k}", str(v)]
        cpu0 = _cpu_ticks()
        with open(f"{work}/jvm.log", "w") as jlog:
            try:
                p = subprocess.run(cmd, cwd=work, stdout=jlog,
                                   stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s")
        if p.returncode != 0 or not os.path.exists(out):
            with open(f"{work}/jvm.log") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {p.returncode}")
        res = json.load(open(out))
        jvm_s = time.time() - t - inputs_s
        steal = _steal_share(cpu0, _cpu_ticks())

        if a.workload == "medallion_stream":
            fails = oracle.check_medallion(jargs["inputs"], res,
                                           meta["planted"]["late"])
        else:
            fails = oracle.check_lake(jargs["inputs"], res)
        for f in fails:
            log(f"CHECK FAILED: {f}")
        log(f"inputs {inputs_s:.1f} s, JVM {jvm_s:.1f} s, checks "
            f"{time.time() - t - inputs_s - jvm_s:.1f} s, steal {steal:.1%}")

        setup_s = inputs_s + res["session_s"] + res["warmup_s"]
        if a.trace:
            names = [m["name"] for m in spec["per_layer"]]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            values = per_layer(res, inputs_s, names)
        else:
            names = [m["name"] for m in spec["end_to_end"]]
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            values = end_to_end(a.workload, res, setup_s)
        result = {
            "correct": not fails,
            "attempted": len(res["ops"]),
            "failed": sum(1 for o in res["ops"] if not o["ok"]),
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
        }
        # the full record, for steady.py and trace_summary.py
        os.makedirs(f"{BUILD}/results", exist_ok=True)
        record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "ops_per_run": ops, "inputs_s": inputs_s, "session_s": res["session_s"],
                  "warmup_s": res["warmup_s"], "result": result,
                  "calib_ms": res["calib_ms"], "steal": steal, "ops": res["ops"],
                  "sub_ops": res["sub_ops"], "spans": res["spans"],
                  "layers": res["layers"], "fails": fails, "time": time.time()}
        with open(f"{BUILD}/results/{a.workload}-s{a.seed}-t{a.trace}.json",
                  "w") as f:
            json.dump(record, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
