#!/usr/bin/env python3
"""graft pipeline benchmark: one command that builds the engine, generates
seeded inputs, runs one workload, checks its outputs and prints every
metric by name with its unit.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Workloads: curate, star_join (see README.md).
--trace 0 prints the end-to-end metrics; --trace 1 runs a traced process
and prints the per-layer metrics. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 150
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def jvm(cp, work, args):
    """Start the harness JVM; its scratch, temp and Spark dirs live in `work`."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness"] + args)
    log = open(os.path.join(work, "jvm.log"), "ab")
    return subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)


def run_jvm(cp, work, args):
    """Run one harness JVM to completion; returns the seconds until its
    session was ready. A JVM past JVM_TIMEOUT_S is killed."""
    t0 = time.perf_counter()
    proc = jvm(cp, work, args)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    ready = None
    try:
        for line in proc.stdout:
            if ready is None and line.strip() == "READY":
                ready = time.perf_counter() - t0
        rc = proc.wait()
    finally:
        timer.cancel()
    if rc != 0 or ready is None:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness JVM failed (exit {rc})")
    return ready


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["curate", "star_join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the smoke test runs 0.1")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources not found next to perfbench/ "
                 "(run from a checkout of the repository)")
    import build
    import check
    import gen

    cp = build.ensure_built()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "data")
        meta = gen.generate(a.workload, a.seed, data, a.scale)
        setup_s = run_jvm(cp, work, [a.workload, data, work, str(a.seconds), str(a.trace)])
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        fails, checks, recall = check.check(a.workload, work, data)
        if a.trace:
            os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
            spans = os.path.join(HERE, ".work", "traces", f"{a.workload}-seed{a.seed}.json")
            shutil.copy(os.path.join(work, "spans.json"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in fails + res["errors"]:
        print(f"FAIL {line}")
    attempted = int(res["ops_attempted"]) + checks
    failed = int(res["ops_failed"] + res["mismatches"]) + min(len(fails), checks)
    walls = res["walls_s"]
    lines = [f"inputs: {meta['rows']} rows, {meta['input_bytes']} parquet bytes (seed {a.seed})",
             f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} operations "
             f"and checks)"]
    if not a.trace:
        metrics = {
            "setup_s": setup_s,
            "cold_wall_s": res["cold_wall_s"],
            "wall_s": statistics.median(walls),
            "peak_heap_mb": res["peak_heap_mb"],
            "write_amp": res["written_bytes"] / res["input_bytes"],
            "recall": recall,
        }
        lines.append(f"wall_s: median of {len(walls)} warm iterations "
                     f"{[round(w, 3) for w in walls]}")
        specs = bench["end_to_end"]
    else:
        metrics = dict(res["layers"])
        specs = bench["per_layer"]
        # only what this workload did not exercise reads 0; smoke.py checks
        # that every metric a workload uses was measured
        unmeasured = [m["name"] for m in specs if m["name"] not in metrics]
        lines.append(f"traced {len(res['traced_walls_s'])} of "
                     f"{len(walls) + len(res['traced_walls_s'])} warm iterations; "
                     f"spans written to {os.path.relpath(spans, ROOT)}")
        lines.append("not measured on this workload (reported as 0): " + " ".join(unmeasured))
        metrics.update((k, 0.0) for k in unmeasured)
    unknown = set(metrics) - {m["name"] for m in specs}
    if unknown:
        raise SystemExit(f"perfbench: metrics not in BENCHMARK.json: {sorted(unknown)}")
    units = {m["name"]: m["unit"] for m in specs}
    for line in lines:
        print(line)
    for k in units:
        print(f"{k} {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": not fails and not res["errors"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
