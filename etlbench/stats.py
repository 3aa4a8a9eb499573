"""Arithmetic over the JVM artifact: order statistics, interval unions, span
self time, and the end-to-end and per-layer metrics of one run.

    python3 etlbench/stats.py .bench_build/etlbench/artifacts/*-t0.json

prints, per workload, each end-to-end metric's median over the given runs
and the distance between its quartiles as a share of the median."""
import json
import statistics
import sys

MB = 1048576.0

SINKS = ["testpilot", "testpilottest", "search", "profile", "corpus"]
# per-layer metrics; a layer a workload does not reach reads 0
PER_LAYER_UNITS = {
    "plan.analysis_s": "s", "plan.optimizer_s": "s", "plan.physical_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.peak_exec_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "spill.mb": "MB",
    "etl.frame_config.s": "s", "io.csv.s": "s", "io.read_back.s": "s",
    **{f"io.write.{k}.{m}": u for k in SINKS
       for m, u in (("s", "s"), ("jobs", "count"), ("files", "count"), ("mb", "MB"))},
    "ops.profile.s": "s", "ops.profile.task_s": "s", "ops.profile.shuffle_mb": "MB",
    "llm.exact.s": "s", "llm.minhash_lsh.s": "s",
    "llm.connected_components.s": "s", "llm.connected_components.jobs": "count",
    "llm.connected_components.task_s": "s",
    "llm.connected_components.shuffle_mb": "MB",
    "llm.drop_near_dups.s": "s", "llm.quality.s": "s",
    "queries.s": "s",
    "jvm.gc_s": "s", "jvm.code_cache_mb": "MB", "trace.overhead_s": "s",
}
END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s", "heap_peak_mb": "MB",
    "stored_per_input_byte": "ratio",
}


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def iqr_share(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def tail_percentile(xs, candidates=(99.9, 99, 95, 90, 75, 50), min_tail=10):
    """The highest percentile in `candidates` with at least `min_tail`
    samples above it, and its value; None when not even the median has."""
    s = sorted(xs)
    for p in candidates:
        k = int(len(s) * p / 100)  # samples at or below the percentile
        if len(s) - k >= min_tail and k > 0:
            return p, s[k - 1]
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals]


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] that no running job covers."""
    return (end - start) - union_length(clip(job_intervals, start, end))


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
        clip(kids.get(s["id"], []), s["start_ms"], s["end_ms"])) for s in spans}


def _pass_layers(p, spans, jobs, plans):
    """Per-layer metrics of one traced pass."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree(ids):
        out, todo = set(), list(ids)
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(children.get(i, []))
        return out

    def named(name):
        return [s for s in spans if s["name"] == name]

    def span_s(name):
        return sum(s["end_ms"] - s["start_ms"] for s in named(name)) / 1e3

    def span_jobs(name):
        ids = subtree(s["id"] for s in named(name))
        return [j for j in jobs if j["span"] in ids]

    start, end = p["start_ms"], p["end_ms"]
    m = {
        "plan.analysis_s": sum(x["analysis_ms"] for x in plans) / 1e3,
        "plan.optimizer_s": sum(x["optimization_ms"] for x in plans) / 1e3,
        "plan.physical_s": sum(x["planning_ms"] for x in plans) / 1e3,
        "sched.jobs": len(jobs),
        "sched.stages": sum(j["stages"] for j in jobs),
        "sched.tasks": sum(j["tasks"] for j in jobs),
        "sched.driver_gap_s": driver_gap(
            start, end, [(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3,
        "exec.task_s": sum(j["task_ms"] for j in jobs) / 1e3,
        "exec.cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
        "exec.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        "exec.peak_exec_mem_mb": max([j["peak_exec_mem"] for j in jobs], default=0) / MB,
        "shuffle.write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "shuffle.read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "spill.mb": sum(j["spill"] for j in jobs) / MB,
        "queries.s": span_s("queries"),
        "jvm.gc_s": p["gc_s"],
        "jvm.code_cache_mb": p["code_cache_mb"],
    }
    for name in ("etl.frame_config", "io.csv", "io.read_back", "llm.exact",
                 "llm.minhash_lsh", "llm.drop_near_dups", "llm.quality"):
        m[f"{name}.s"] = span_s(name)
    for sink in SINKS:
        out = p["outputs"].get(sink, {"files": 0, "bytes": 0})
        m[f"io.write.{sink}.s"] = span_s(f"io.write.{sink}")
        m[f"io.write.{sink}.jobs"] = len(span_jobs(f"io.write.{sink}"))
        m[f"io.write.{sink}.files"] = out["files"]
        m[f"io.write.{sink}.mb"] = out["bytes"] / MB
    for name, keys in (("ops.profile", ("s", "task_s", "shuffle_mb")),
                       ("llm.connected_components", ("s", "jobs", "task_s", "shuffle_mb"))):
        js = span_jobs(name)
        vals = {"s": span_s(name), "jobs": len(js),
                "task_s": sum(j["task_ms"] for j in js) / 1e3,
                "shuffle_mb": sum(j["shuffle_write"] for j in js) / MB}
        for k in keys:
            m[f"{name}.{k}"] = vals[k]
    return m


def trace_overhead(passes):
    """Median over traced passes of the pass time minus the mean of the two
    untraced passes around it; a steady drift of pass times cancels out."""
    return median([p["s"] - (passes[i - 1]["s"] + passes[i + 1]["s"]) / 2
                   for i, p in enumerate(passes)
                   if p["traced"] and 0 < i < len(passes) - 1])


def _in_pass(p, spans, jobs, plans):
    ids = {s["id"] for s in spans if s["pass"] == p["idx"]}
    return ([s for s in spans if s["id"] in ids],
            [j for j in jobs if j["span"] in ids],
            [x for x in plans if p["start_ms"] <= x["start_ms"] <= p["end_ms"]])


def timed(artifact, traced):
    return [p for p in artifact["passes"]
            if p["phase"] == "timed" and p["traced"] == traced]


def per_layer(artifact):
    """Median over the traced timed passes of each per-layer metric, plus
    the detail that has no metric of its own: median self time per span
    name and median latency per query."""
    spans, jobs, plans = artifact["spans"], artifact["jobs"], artifact["plans"]
    traced = timed(artifact, True)
    rows, self_rows = [], []
    for p in traced:
        ps, pj, pp = _in_pass(p, spans, jobs, plans)
        rows.append(_pass_layers(p, ps, pj, pp))
        selfs, own = {}, self_times(ps)
        for s in ps:
            selfs[s["name"]] = selfs.get(s["name"], 0.0) + own[s["id"]] / 1e3
        self_rows.append(selfs)
    metrics = {k: median([r[k] for r in rows]) for k in rows[0]}
    metrics["trace.overhead_s"] = trace_overhead(
        [p for p in artifact["passes"] if p["phase"] == "timed"])
    names = sorted({k for r in self_rows for k in r})
    detail = {
        "self_s": {n: median([r.get(n, 0.0) for r in self_rows]) for n in names},
        "query_s": _per_query(traced),
    }
    return metrics, detail


def _ops(passes):
    return [op for p in passes for op in p["ops"]]


def _per_query(passes):
    by = {}
    for op in _ops(passes):
        if op["query"] and op["error"] is None:
            by.setdefault(op["name"], []).append(op["s"])
    return {k: median(v) for k, v in sorted(by.items())}


def end_to_end(artifact, inputs):
    """The user-visible metrics of the untraced timed passes."""
    ps = timed(artifact, False)
    secs = [p["s"] for p in ps]
    stored = [sum(o["bytes"] for o in p["outputs"].values()) / inputs["bytes"]
              for p in ps]
    metrics = {
        "setup_s": artifact["setup"]["setup_s"],
        "pass_s": median(secs),
        "rows_per_s": inputs["rows"] * len(secs) / sum(secs),
        "heap_peak_mb": max(p["live_heap_mb"] for p in ps),
        "stored_per_input_byte": median(stored),
    }
    lat = [op["s"] for op in _ops(ps) if op["query"] and op["error"] is None]
    detail = {"passes_s": secs, "query_s": _per_query(ps),
              "query_tail": tail_percentile(lat)}
    return metrics, detail


def main(paths):
    runs = {}
    for path in paths:
        with open(path) as f:
            record = json.load(f)
        runs.setdefault(record["workload"], []).append(record["end_to_end"])
    for workload, rows in sorted(runs.items()):
        print(f"{workload}: {len(rows)} runs")
        for k in END_TO_END_UNITS:
            xs = [r[k] for r in rows]
            spread = f"{iqr_share(xs):.4f}" if len(xs) >= 2 else "-"
            print(f"  {k:24s} median {median(xs):14.6g}  iqr/median {spread}")


if __name__ == "__main__":
    main(sys.argv[1:])
