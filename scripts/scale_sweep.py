#!/usr/bin/env python3
"""Scale sweep: run graft.Bench on an sf directory and on a k-times copy of
it, then print a per-gate markdown table of 1x s, kx s and their ratio, or
the gate's error.

    scripts/scale_sweep.py K

graft.Replicate writes the k-times copy (keys offset per replica, text and
embeddings transformed so near-duplicate and neighbour structure stays
inside each replica). Both runs use the same graft.Bench main, session
profile and noop materialization as the board. Settings, all read by
graft.Bench itself:

  SPARK_GRAFT_SF_DIR  the 1x directory (default /root/testdata/sf0.1)
  SPARK_GRAFT_ONLY    comma-separated gates (default: the 30 costliest in
                      the committed bench_times.json)

Other SPARK_GRAFT_* settings (CPUS, BENCH_RUNS) and SPARK_DRIVER_MEM pass
through to both runs. Output lands under target/scale_sweep/; the
committed bench_times.json is not written. Build first (`sbt compile`):
the runs go through scripts/run_main.sh.
"""
import json
import os
import re
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, "target", "scale_sweep")
TOP = 30


def run_main(args, env, log):
    with open(log, "w") as out:
        return subprocess.run([os.path.join(REPO, "scripts", "run_main.sh")] + args,
                              env=env, stdout=out, stderr=subprocess.STDOUT).returncode


def bench(sf_dir, gates, tag):
    """graft.Bench over `gates` on `sf_dir`: ({gate: s}, {gate: error})."""
    out = os.path.join(WORK, f"bench_{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_ONLY=",".join(gates), SPARK_GRAFT_BENCH_OUT=out)
    code = run_main(["graft.Bench"], env, os.path.join(WORK, f"bench_{tag}.log"))
    if not os.path.exists(out):
        return {}, {g: f"bench exited {code} without output" for g in gates}
    with open(out) as f:
        line = json.loads(f.readline())
    # error text goes into a markdown cell
    return line["queries"], {g: " ".join(m.replace("|", "/").split())
                             for g, m in line["errors"].items()}


def fixed_input_gates():
    """Gates whose body ignores the sf dir: (s, _) => ... in the registry."""
    with open(os.path.join(REPO, "src/main/scala/graft/SparkEntry.scala")) as f:
        return set(re.findall(r'^\s*"(\w+)" -> \(\(\w+, _\) =>', f.read(), re.M))


def main():
    if len(sys.argv) != 2 or not sys.argv[1].isdigit() or not 2 <= int(sys.argv[1]) <= 26:
        sys.exit("usage: scripts/scale_sweep.py K   (K in 2..26)")
    k = int(sys.argv[1])
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isfile(os.path.join(sf, "documents.parquet")):
        sys.exit(f"no sf directory at {sf}")
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        gates = [g.strip() for g in only.split(",") if g.strip()]
    else:
        with open(os.path.join(REPO, "bench_times.json")) as f:
            board = json.loads(f.readline())["queries"]
        gates = sorted(board, key=lambda g: -board[g])[:TOP]
    os.makedirs(WORK, exist_ok=True)
    kdir = os.path.join(WORK, f"sf_x{k}")
    if run_main(["graft.Replicate", sf, kdir, str(k)], dict(os.environ),
                os.path.join(WORK, "replicate.log")) != 0:
        sys.exit(f"graft.Replicate failed; see {WORK}/replicate.log")
    try:
        t1, e1 = bench(sf, gates, "1x")
        tk, ek = bench(kdir, gates, f"{k}x")
    finally:
        shutil.rmtree(kdir, ignore_errors=True)
    fixed = fixed_input_gates()

    def cell(times, errs, g):
        return "error" if g in errs or g not in times else f"{times[g]:.2f}"

    def ran(g):
        return g in t1 and g in tk and g not in e1 and g not in ek

    print(f"| gate | 1× s | {k}× s | ratio | note |")
    print("|---|---|---|---|---|")
    for g in sorted(gates, key=lambda g: -t1.get(g, 0.0)):
        ratio = tk[g] / t1[g] if ran(g) and t1[g] > 0 else None
        notes = []
        if g not in t1 and g not in e1:
            notes.append("not a registry gate")
        if g in e1:
            notes.append(f"1×: {e1[g]}")
        if g in ek:
            notes.append(f"{k}×: {ek[g]}")
        if ratio is not None and ratio > k:
            notes.append("superlinear")
        if g in fixed:
            notes.append("fixed-size input")
        print(f"| `{g}` | {cell(t1, e1, g)} | {cell(tk, ek, g)} | "
              f"{'' if ratio is None else f'{ratio:.2f}×'} | {'; '.join(notes)} |")
    good = [g for g in gates if ran(g)]
    print(f"\n{len(good)} of {len(gates)} gates ran at both scales: "
          f"{sum(t1[g] for g in good):.1f} s at 1×, {sum(tk[g] for g in good):.1f} s at {k}×")


if __name__ == "__main__":
    main()
