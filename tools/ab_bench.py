#!/usr/bin/env python3
"""Alternating A/B bench: control and candidate legs, interleaved, in ONE window.

Same-box drift reaches +/-20% across hours and +/-6% between back-to-back
runs (PERF.md rounds 11-13), and a single control->candidate->control trio
cannot resolve per-gate changes of 10-30 %: two trios of the same two trees
minutes apart disagreed by 0.27 on one gate's ratio. So this tool runs
`--rounds` rounds of one control leg and one candidate leg each, swapping
which side runs first every round, and reads each gate by its median per
side against the control's own spread (the distance between the quartiles
of its control legs). A gate whose candidate median lies within that
distance of the control median shows no change the legs can resolve.

Usage:
  python3 tools/ab_bench.py --control <git-ref> [--rounds 5]
      [--out-prefix BENCH_LOCAL_AB] [--workdir /tmp]
      [--sf /root/testdata/sf0.1] [--cpus 4] [--runs 3] [--heap 8g]
      [--queries q1,q2,...] [--skip-compile]

The candidate is ALWAYS the current working tree's compiled classes
(target/scala-2.13/classes — compile first). The control ref is exported
with `git archive` into <workdir>/graft_ab_<sha> and compiled there once
(reused on re-runs while its compile marker names the same commit).
Each leg's classpath puts its own tree's src/main/resources ahead of its
classes and the Spark jars: `sbt compile` does not copy resources into
the classes dir, so without it a control leg would run without the
tree's log4j2.properties (logging at INFO) while a candidate whose
classes went through `sbt test` logs at WARN.

Outputs: <out-prefix>.json holding every leg's full Bench JSON line
(`control` and `candidate` lists, in run order) and the per-gate summary,
plus the same summary on stdout. Each leg's console output goes to
<workdir>/ab_leg_r<round>_<side>.log.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADD_OPENS_PKGS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
ADD_OPENS = [a for p in ADD_OPENS_PKGS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def sh(cmd, **kw):
    print("+", " ".join(cmd), flush=True)
    return subprocess.run(cmd, check=True, **kw)


def leg_classpath(tree):
    return ":".join([os.path.join(tree, "src/main/resources"),
                     os.path.join(tree, "target/scala-2.13/classes"),
                     "/opt/spark/jars/*"])


def prepare_control(ref, workdir, skip_compile):
    want = subprocess.run(["git", "-C", REPO, "rev-parse", ref],
                          capture_output=True, text=True,
                          check=True).stdout.strip()
    tree = os.path.join(workdir, f"graft_ab_{want[:12]}")
    classes = os.path.join(tree, "target/scala-2.13/classes")
    # the marker is written ONLY after a successful compile and keyed on
    # the commit sha — a tree left by an interrupted sbt run (classes/
    # exists but half-built) never passes for a compiled control leg;
    # exported trees are never edited, so sha-keyed classes are current
    marker = os.path.join(tree, "target", ".graft_ab_compiled")
    if os.path.isdir(classes) and os.path.isfile(marker) and \
            open(marker).read().strip() == want:
        return tree
    if skip_compile:
        sys.exit(f"--skip-compile: no verified compile marker for {want}"
                 f" in {tree} — run once without --skip-compile first")
    os.makedirs(tree, exist_ok=True)
    archive = subprocess.Popen(["git", "-C", REPO, "archive", want],
                               stdout=subprocess.PIPE)
    sh(["tar", "-x", "-C", tree], stdin=archive.stdout)
    if archive.wait() != 0:
        sys.exit(f"git archive {want} failed")
    sh(["sbt", "-batch", "compile"], cwd=tree)
    with open(marker, "w") as f:
        f.write(want + "\n")
    return tree


def run_bench(tree, out_file, args):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=args.sf,
               SPARK_GRAFT_CPUS=str(args.cpus),
               SPARK_GRAFT_BENCH_RUNS=str(args.runs),
               SPARK_GRAFT_BENCH_OUT=out_file)
    if args.queries:
        env["SPARK_GRAFT_BENCH_QUERIES"] = args.queries
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{args.heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", leg_classpath(tree), "graft.Bench"])
    print("+ bench ->", out_file, flush=True)
    with open(os.path.splitext(out_file)[0] + ".log", "w") as log:
        subprocess.run(cmd, check=True, env=env,
                       stdout=log, stderr=subprocess.STDOUT)
    with open(out_file) as f:
        return json.loads(f.readline())


def quartile_distance(xs):
    """Distance between the first and third quartiles (0 below 2 legs)."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def summarize(control, candidate):
    """Per gate: the median per side, the control's interquartile
    distance, and whether the medians differ by more than it."""
    legs = control + candidate
    common = sorted(set.intersection(*(set(l["queries"]) for l in legs)))
    gates = {}
    for q in common:
        ctrl = [l["queries"][q] for l in control]
        cand = [l["queries"][q] for l in candidate]
        mc, mk, iqr = statistics.median(ctrl), statistics.median(cand), \
            quartile_distance(ctrl)
        gates[q] = {"control_median": mc, "candidate_median": mk,
                    "control_iqr": iqr,
                    "resolved": abs(mk - mc) > iqr}
    print(f"\n== {len(control)} control / {len(candidate)} candidate legs, "
          f"{len(common)} common gates ==")
    print(f"{'gate':40s} {'control':>9s} {'candidate':>9s} {'ratio':>6s} "
          f"{'ctrl IQR':>9s}  verdict")
    for q, g in gates.items():
        mc, mk = g["control_median"], g["candidate_median"]
        ratio = mk / mc if mc > 0 else float("nan")
        verdict = ("faster" if mk < mc else "slower") if g["resolved"] \
            else "within control IQR"
        print(f"{q:40s} {mc:9.3f} {mk:9.3f} {ratio:6.2f} "
              f"{g['control_iqr']:9.3f}  {verdict}")
    return gates


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--control", required=True,
                    help="git ref of the control tree (e.g. the parent commit)")
    ap.add_argument("--rounds", type=int, default=5,
                    help="rounds of one control and one candidate leg each")
    ap.add_argument("--out-prefix", default="BENCH_LOCAL_AB")
    ap.add_argument("--workdir", default="/tmp",
                    help="where the control tree is exported and legs are written")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--heap", default="8g")
    ap.add_argument("--queries", default="",
                    help="comma-separated subset (default: full suite)")
    ap.add_argument("--skip-compile", action="store_true",
                    help="require an already compiled control tree")
    args = ap.parse_args()

    cand_classes = os.path.join(REPO, "target/scala-2.13/classes")
    if not os.path.isdir(cand_classes):
        print("candidate classes missing — run `sbt compile` first",
              file=sys.stderr)
        return 1
    ctrl_tree = prepare_control(args.control, args.workdir, args.skip_compile)

    control, candidate = [], []
    for r in range(args.rounds):
        # alternate which side runs first, so a drifting box loads both
        order = [("control", ctrl_tree, control),
                 ("candidate", REPO, candidate)]
        for side, tree, legs in (order if r % 2 == 0 else order[::-1]):
            leg = os.path.join(args.workdir, f"ab_leg_r{r}_{side}.json")
            legs.append(run_bench(tree, leg, args))
    gates = summarize(control, candidate)
    out = os.path.join(REPO, f"{args.out_prefix}.json")
    with open(out, "w") as f:
        json.dump({"control_ref": args.control, "rounds": args.rounds,
                   "control": control, "candidate": candidate,
                   "gates": gates}, f)
    print("wrote", out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
