"""Turns a JVM run record into the benchmark's metrics.

End-to-end metrics come from the untraced window; per-layer metrics from
the traced window, its spans and the Spark listener counters. All the
arithmetic lives here so tests/test_metrics.py can check it on synthetic
records.
"""
import math
import re
from collections import defaultdict

# Spark 4 on JDK 17 needs these when a session is built outside
# spark-submit (same list as the repository's build.sbt)
JDK_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_ms": "ms",
              "op_p90_ms": "ms", "heap_retained_mb": "MB"}
SPAN_LAYERS = ("session", "ops", "executor", "cached_frames", "fhir", "quality",
               "sinks", "streaming")
KERNELS = ("shingleHashSet", "minhashSignature", "simhash64", "bpeTokenCount", "langId")
STREAM_KEYS = ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
               "latest_offset_ms", "get_batch_ms", "state_commit_ms",
               "state_all_updates_ms", "state_rows", "state_mem_mb", "ckpt_bytes_per_batch")
PER_LAYER = (
    [("session.plan_ms", "ms"), ("session.jobs_per_op", "count"),
     ("session.stages_per_op", "count"), ("session.tasks_per_op", "count"),
     ("session.driver_gap_ms", "ms"),
     ("ops.rank_query_ms", "ms"), ("ops.rank_jobs_per_query", "count")]
    + [(f"functions.{k}_ns_per_doc", "ns") for k in KERNELS]
    + [("functions.dot_ns_per_dot", "ns"),
       ("exchange.shuffle_write_mb", "MB"), ("exchange.shuffle_read_mb", "MB"),
       ("exchange.spill_mb", "MB"), ("executor.task_cpu_s", "s"), ("executor.gc_s", "s"),
       ("executor.cpu_util", "ratio"),
       ("cached_frames.registered_frames", "count"), ("cached_frames.cached_mb", "MB"),
       ("fhir.scan_s", "s"), ("fhir.entries_per_s", "1/s"), ("fhir.extract_clean_s", "s"),
       ("fhir.files_listed", "count"), ("fhir.scan_tasks", "count"),
       ("quality.qc_s", "s"), ("quality.qc_jobs", "count"),
       ("sinks.write_s", "s"), ("sinks.bytes_written", "bytes"),
       ("sinks.files_written", "count"), ("sinks.readback_s", "s"),
       ("sinks.out_bytes_per_in_byte", "ratio")]
    + [(f"streaming.{k}", "count" if k == "state_rows" else
        "bytes" if k.startswith("ckpt") else "MB" if k.endswith("_mb") else "ms")
       for k in STREAM_KEYS]
    + [(f"{layer}.self_ms", "ms") for layer in SPAN_LAYERS]
    + [("trace.overhead_throughput_pct", "%"), ("trace.overhead_op_p50_pct", "%"),
       ("trace.overhead_op_p90_pct", "%"), ("trace.spans", "count")])


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start, end.
    """
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children[s["id"]])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def oracle_verdicts(stdout, gates):
    """Per-gate PASS/FAIL from scripts/local_t2.py output; a gate the
    oracle run did not report counts as failed.
    """
    seen = {}
    for line in stdout.splitlines():
        m = re.match(r"(PASS|FAIL|WEAK0?)\s+(\S+?):", line)
        if m:
            seen[m.group(2)] = m.group(1) == "PASS"
    return {g: seen.get(g, False) for g in gates}


def _split(window):
    """(throughput ops, latency samples) of a window: a stream window's
    throughput is over its drains, its latency over their micro-batches;
    elsewhere both are the ops themselves.
    """
    ops = window["ops"]
    drains = [o for o in ops if o["name"] == "drain"]
    samples = [o for o in ops if o["name"] != "drain"]
    return drains or samples, samples


def latencies(samples):
    """Latency samples of a window. Where the ops are of several kinds
    (the analytics gates), each kind counts once, by its median over the
    window's passes: pooled, the p50 and p90 of ten gate clusters fall in
    the gap between two clusters and read the slowest run of one gate or
    the fastest of the next.
    """
    by_name = defaultdict(list)
    for o in samples:
        by_name[o["name"]].append(o["ms"])
    if len(by_name) == 1:
        return next(iter(by_name.values()))
    return [percentile(v, 50) for v in by_name.values()]


def _window_metrics(window):
    tput_ops, samples = _split(window)
    secs = sum(o["ms"] for o in tput_ops) / 1000.0
    items = sum(o["items"] for o in tput_ops if o["ok"])
    lat = latencies(samples)
    return {"throughput_per_s": items / secs if secs else 0.0,
            "op_p50_ms": percentile(lat, 50), "op_p90_ms": percentile(lat, 90),
            "samples": len(samples), "passes": max([o["pass"] for o in tput_ops] or [0])}


def _pass_times(window):
    per = defaultdict(float)
    for o in _split(window)[0]:
        per[o["pass"]] += o["ms"] / 1000.0
    return [round(per[k], 4) for k in sorted(per)]


def layer_metrics(rec):
    """Every per-layer metric of a traced record.

    The per-op counters (jobs, stages, tasks, exchange, executor) cover the
    traced window's own ops. Everything else covers the window and the
    probes of the other workloads' layers, so no layer reads 0.
    """
    tw = rec["traced"]
    window_ops = tw["ops"]
    ops = window_ops + rec.get("probe_ops", [])
    m = {name: 0.0 for name, _ in PER_LAYER}
    spans = [dict(zip(("id", "parent", "op", "name", "layer", "start", "end"), s))
             for s in rec.get("spans", [])]
    roots = [s for s in spans if s["parent"] < 0 and s["name"] != "release"]
    stats = rec.get("job_stats", [])
    by_op = defaultdict(list)
    for st in stats:
        by_op[st["op"]].append(st)
    by_span = {(st["op"], st["span"]): st for st in stats}

    window_ids = {int(o["extra"]["op_id"]) for o in window_ops if "op_id" in o["extra"]}
    n_window = max(len([r for r in roots if r["op"] in window_ids]), 1)
    window_stats = [st for st in stats if st["op"] in window_ids]
    for k in ("jobs", "stages", "tasks"):
        m[f"session.{k}_per_op"] = sum(st[k] for st in window_stats) / n_window
    gaps = []
    for r in roots:
        # ops whose stages run under another job group (stream batches)
        # have no attributed stages, hence no measurable gap
        ivs = [(max(a * 1e6, r["start"]), min(b * 1e6, r["end"]))
               for st in by_op[r["op"]] for a, b in st["stage_intervals"]]
        if ivs:
            gaps.append(((r["end"] - r["start"]) - union_length(ivs)) / 1e6)
    m["session.driver_gap_ms"] = mean(gaps)
    queries = [o for o in ops if "plan_ms" in o["extra"]]
    m["session.plan_ms"] = mean(o["extra"]["plan_ms"] for o in queries)
    rank = [o for o in queries if o["extra"].get("rank_gate")]
    m["ops.rank_query_ms"] = mean(o["ms"] for o in rank)
    rank_ids = {int(o["extra"]["op_id"]) for o in rank}
    m["ops.rank_jobs_per_query"] = (
        sum(st["jobs"] for st in stats if st["op"] in rank_ids) / len(rank_ids)
        if rank_ids else 0.0)
    m["cached_frames.registered_frames"] = mean(o["extra"]["registered_frames"] for o in queries)
    m["cached_frames.cached_mb"] = mean(o["extra"]["cached_mb"] for o in queries)

    for k, v in rec.get("functions", {}).items():
        if k in KERNELS:
            m[f"functions.{k}_ns_per_doc"] = v
    m["functions.dot_ns_per_dot"] = rec.get("functions", {}).get("dot", 0.0)

    tot = rec.get("task_totals", {})
    n_samples = max(len(_split(tw)[1]), 1)
    m["exchange.shuffle_write_mb"] = tot.get("shuffle_write", 0) / 2**20 / n_samples
    m["exchange.shuffle_read_mb"] = tot.get("shuffle_read", 0) / 2**20 / n_samples
    m["exchange.spill_mb"] = tot.get("spill", 0) / 2**20 / n_samples
    m["executor.task_cpu_s"] = tot.get("cpu_ns", 0) / 1e9 / n_samples
    m["executor.gc_s"] = tot.get("gc_ms", 0) / 1e3 / n_samples
    m["executor.cpu_util"] = tot.get("cpu_ns", 0) / 1e9 / (tw["wall_s"] * tw["cores"])

    def span_mean_s(name):
        return mean((s["end"] - s["start"]) / 1e9 for s in spans if s["name"] == name)

    def span_stat(name, key):
        return mean(by_span.get((s["op"], s["id"]), {}).get(key, 0) for s in spans
                    if s["name"] == name)

    if any(s["name"] == "scan" for s in spans):
        m["fhir.scan_s"] = span_mean_s("scan")
        m["fhir.entries_per_s"] = mean(
            o["extra"]["entries"] for o in ops if "entries" in o["extra"]) / m["fhir.scan_s"]
        m["fhir.extract_clean_s"] = span_mean_s("extract_clean")
        m["fhir.files_listed"] = mean(
            o["extra"]["files"] for o in ops if "files" in o["extra"])
        m["fhir.scan_tasks"] = span_stat("scan", "tasks")
        m["quality.qc_s"] = span_mean_s("qc")
        m["quality.qc_jobs"] = span_stat("qc", "jobs")
        m["sinks.write_s"] = span_mean_s("write")
        m["sinks.readback_s"] = span_mean_s("readback")
    batches = [o for o in ops if "bytes_written" in o["extra"]]
    for k in ("bytes_written", "files_written", "out_bytes_per_in_byte"):
        m[f"sinks.{k}"] = mean(o["extra"][k] for o in batches)

    micro = [o for o in ops if "add_batch_ms" in o["extra"]]
    for k in STREAM_KEYS:
        m[f"streaming.{k}"] = mean(o["extra"][k] for o in micro)

    # self time of a layer per op that uses the layer
    selfs = self_times(spans)
    per_op_layer = defaultdict(float)
    for s in spans:
        per_op_layer[(s["op"], s["layer"])] += selfs[s["id"]]
    for layer in SPAN_LAYERS:
        m[f"{layer}.self_ms"] = mean(
            v for (_, lay), v in per_op_layer.items() if lay == layer) / 1e6

    before, after = _window_metrics(rec["untraced"]), _window_metrics(rec["untraced_after"])
    untraced = {k: (before[k] + after[k]) / 2 for k in before}
    traced = _window_metrics(tw)

    def over(k, inverse=False):
        a, b = untraced[k], traced[k]
        if not a or not b:
            return 0.0
        return ((a / b) - 1.0) * 100 if inverse else ((b / a) - 1.0) * 100

    m["trace.overhead_throughput_pct"] = over("throughput_per_s", inverse=True)
    m["trace.overhead_op_p50_pct"] = over("op_p50_ms")
    m["trace.overhead_op_p90_pct"] = over("op_p90_ms")
    m["trace.spans"] = len(spans)
    return m


def summarize(rec, trace, t_start, oracle):
    """(result line, artifact) for one run record."""
    windows = [rec["untraced"]] + ([rec["traced"]] if trace else [])
    timed_ops = sum(len(_split(w)[0]) for w in windows)
    failures = list(rec.get("failures", []))
    if oracle is not None:
        failures += [{"op": g, "error": "output differs from its oracle"}
                     for g, ok in sorted(oracle.items()) if not ok]
    attempted = rec.get("warm_attempted", 0) + timed_ops
    failed = len(failures)
    e2e = _window_metrics(rec["untraced"])
    e2e["setup_s"] = rec["first_op_epoch_ms"] / 1000.0 - t_start
    e2e["heap_retained_mb"] = rec["heap_retained_mb"]
    if trace:
        values = layer_metrics(rec)
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": max(attempted, 1), "failed": failed,
              "metrics": metrics}
    artifact = {
        "untraced": {k: e2e[k] for k in ("samples", "passes")},
        "pass_times_s": _pass_times(rec["untraced"]),
        "traced_pass_times_s": _pass_times(rec["traced"]) if trace else None,
        "warm_up": {"untimed_passes": 1, "warm_pass_s": rec.get("warm_pass_s"),
                    "setup_jvm_s": rec.get("setup_jvm_s")},
        "ops_failed_pct": 100.0 * failed / max(attempted, 1),
        "failures": failures[:20],
        "fhir_files": rec.get("fhir_files"), "stream_chunks": rec.get("stream_chunks"),
    }
    if trace:
        artifact["end_to_end_traced"] = {k: v for k, v in _window_metrics(rec["traced"]).items()}
    return result, artifact
