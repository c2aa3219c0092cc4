#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt on first use (into .bench_build/),
generates the workload's inputs from the seed, runs one JVM with a
local[nproc] Spark session and one closed-loop client thread, checks every
output, and prints the metrics. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("fhir_etl", "stream_replay", "analytics")

# Gate lists of the query workloads; why these, and why not all of the
# registry's light and heavy gates, is in README.md.
GATES = {
    "analytics": [
        "auc_score", "ranksum_test", "ks_drift", "heavy_hitters", "mcnemar_test",
        "missing_profile", "value_histogram", "trend_test", "brier_score"],
}
# tables each workload reads; a traced run also times kernels over
# documents and embeddings and probes the analytics layers over events
TRACE_TABLES = {"events", "documents", "embeddings"}
TABLES = {
    "fhir_etl": [],
    "stream_replay": ["events"],
    "analytics": None,  # all
}
JVM_TIMEOUT_S = 160
HEAP = "4g"


def sh(cmd, **kw):
    return subprocess.run(cmd, capture_output=True, text=True, **kw)


def source_digest(root):
    """Hash of every file the build reads: engine sources and the harness."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            if "/target/" in p or p.endswith("/target"):
                continue
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out_dir):
    """Compile with sbt unless the classes match the current sources."""
    digest = source_digest(root)
    stamp = os.path.join(out_dir, "stamp")
    classes = os.path.join(out_dir, "scala-2.13", "classes")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return classes, digest
    env = dict(os.environ, GRAFTBENCH_TARGET=out_dir, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]))
    r = sh(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(out_dir, "sbt-global"), "compile"],
           cwd=HERE, env=env, timeout=840)
    if r.returncode != 0 or not os.path.isdir(classes):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("graftbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def fingerprint(root, digest, cpus):
    r = sh(["git", "rev-parse", "HEAD"], cwd=root)
    return {"git_sha": r.stdout.strip() if r.returncode == 0 else None,
            "source_digest": digest, "nproc": os.cpu_count(), "cpus_used": cpus,
            "heap": HEAP, "python": sys.version.split()[0]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: run from the repository root (engine sources not found)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        raise SystemExit("graftbench: SPARK_HOME with a jars/ directory is required")
    classes, digest = build(root, os.path.join(root, ".bench_build", "graftbench"))

    t_start = time.time()
    load_before = os.getloadavg()
    cpus = max(1, min(os.cpu_count() or 1, 8))
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    import datagen
    tables = TABLES[a.workload]
    if tables is not None and a.trace:
        tables = sorted(set(tables) | TRACE_TABLES)
    datagen.generate(data, a.seed, tables=tables)

    out = os.path.join(work, "record.json")
    cmd = ["java"] + metrics.JDK_OPENS + [
        # C1 only: a run holds one untimed warm-up pass, and under the
        # default tiered JIT pass times were still falling eight passes in,
        # so each run measured a different point of C2's warm-up
        f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
        "--work", work, "--out", out, "--cpus", str(cpus),
        "--gates", ",".join(GATES.get(a.workload, []))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit(f"graftbench: JVM exited with {rc}")
    rec = json.load(open(out))

    oracle = None
    if a.workload in GATES:
        r = sh([sys.executable, os.path.join(root, "scripts", "local_t2.py"),
                os.path.join(work, "outputs"), data], timeout=15)
        oracle = metrics.oracle_verdicts(r.stdout, GATES[a.workload])

    env_fp = fingerprint(root, digest, cpus)
    env_fp["load_before"] = load_before
    env_fp["load_after"] = os.getloadavg()
    env_fp["conf_digest"] = rec.get("conf_digest")
    env_fp["jvm_args"] = rec.get("jvm_args")
    result, artifact = metrics.summarize(rec, a.trace, t_start, oracle)
    artifact["environment"] = env_fp
    with open(os.path.join(work, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print("artifact: " + json.dumps(artifact, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
