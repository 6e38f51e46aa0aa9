#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at 1/10 of its input size,
untraced and traced, end to end with its correctness check. Also checks
that the traced run measured every per-layer metric the workload uses
(a metric the tracer did not produce is reported as 0, so a lost or
misspelt key would otherwise pass unseen), and that the command fails
without printing a result in a directory that holds only the benchmark
(no engine sources).

    python3 perfbench/smoke.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curate", "star_join")

# per-layer metrics each traced workload must measure
COMMON = """exec.jobs exec.stages exec.tasks exec.failed_tasks exec.task_s
    exec.shuffle_write_bytes exec.shuffle_read_bytes exec.spill_bytes exec.gc_s
    exec.busy_frac exec.serial_job_s exec.skew tables.input_bytes tables.input_rows
    tables.scan_tasks sinks.bytes_written sinks.files_written plans.text_rewrites
    plans.bloom_fires plans.range_fires plans.smj_count plans.bhj_count
    plans.optimize_s session.self_s trace.overhead_frac""".split()
USES = {
    "curate": """pipeline.steps pipeline.eager_jobs pipeline.plan_s pipeline.self_s
        sinks.commit_s sinks.self_s functions.normalize_s
        scale.dedup_exact_s scale.quota_sample_s scale.self_s llm.minhash_s llm.card_s
        llm.lsh_candidate_pairs llm.near_dup_pairs llm.lsh_precision llm.self_s""",
    "star_join": """relational.q_tpch_q3ish_s relational.q_tpch_q5ish_s
        relational.q_tpch_q18ish_s relational.q_join_bloom_s relational.self_s""",
}
UNMEASURED = "not measured on this workload (reported as 0):"


def run(cwd, workload, trace, scale="0.1"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def main():
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            out = run(ROOT, w, trace)
            if out.returncode != 0:
                problems.append(f"{w} trace={trace}: exit {out.returncode}\n{out.stderr[-1500:]}")
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: incorrect\n{out.stdout[-1500:]}")
            if trace:
                line = next(l for l in out.stdout.splitlines() if l.startswith(UNMEASURED))
                lost = set(line[len(UNMEASURED):].split()) & set(COMMON + USES[w].split())
                if lost:
                    problems.append(f"{w} trace=1: not measured: {sorted(lost)}")
            print(f"ok {w} trace={trace}: {res['attempted']} attempted", flush=True)

    # a directory with only the benchmark must fail without a result
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = run(bare, "curate", 0)
    shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or "\"correct\"" in out.stdout:
        problems.append("bare directory: the command did not fail")
    else:
        print("ok bare directory fails without a result")

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
