"""Per-layer metrics and spans of a traced run.

The JVM side records Spark listener data (jobs, stages, task metrics),
streaming progress events, timed query phases and timed module calls.
This module turns them into spans (name, start, end, parent, trace id),
self time per layer, and the per-layer metrics of BENCHMARK.json. A
metric whose layer a workload does not exercise reads 0.
"""
import json
import os

from bench import check, stats

MODULES = ("Similarity", "Dedup", "TextMetrics", "Eval", "Sketch", "Behavior",
           "Multimodal", "Relational", "Sampling", "Profile", "Graph",
           "StreamingOps", "Pipeline")
FUNCTIONS = ("DotProduct", "TokenHash", "BleuGrams", "GramRunStats", "SignCode")
LAYERS = ("sources", "core", "sinks", "exec", "operators", "codec", "functions")
# Micro-batch phases in the order MicroBatchExecution runs them, with the
# layer each belongs to.
PHASES = (("latestOffset", "sources"), ("walCommit", "core"), ("getBatch", "sources"),
          ("queryPlanning", "core"), ("addBatch", "sinks"), ("commitOffsets", "core"))


class Spans:
    def __init__(self):
        self.items = []

    def add(self, trace, name, layer, start, end, parent=None):
        self.items.append({"id": len(self.items), "trace": trace, "name": name,
                           "layer": layer, "start_ms": start, "end_ms": end,
                           "parent": parent})
        return len(self.items) - 1


def self_times(spans):
    """{layer: Σ self ms}: each span's duration minus the part of it that
    its children cover."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        cover, cur = 0.0, a
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], cur), min(c["end_ms"], b)
            if hi > lo:
                cover += hi - lo
                cur = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, (b - a) - cover)
    return out


def _p(values, q):
    values = list(values)
    return stats.percentile(values, q) if values else 0.0


def _parent_at(spans, candidates, t):
    """The innermost candidate span that covers time t, else the first."""
    inside = [i for i in candidates
              if spans.items[i]["start_ms"] <= t <= spans.items[i]["end_ms"]]
    return (inside or candidates)[-1]


def metrics(workload, res, e2e, info, run_dir):
    m = {}
    spans = Spans()
    progress = sorted(res.get("progress", []), key=lambda p: (p["start_ms"], p["batch"]))
    progress = [p for p in progress if p["rows"] > 0]
    jobs = {j["id"]: j for j in res.get("jobs", [])}
    stages = res.get("stages", [])
    stages_of = {}
    for s in stages:
        stages_of.setdefault(s["job"], []).append(s)

    # ---- streaming: one trace per micro-batch of each streaming query
    add_batch_span, op_jobs = {}, {}
    for p in progress:
        d = p["duration_ms"]
        trace = f"batch-{p['query'][:8]}-{p['batch']}"
        root = spans.add(trace, "batch", "core", p["start_ms"],
                         p["start_ms"] + d.get("triggerExecution", 0))
        t = p["start_ms"]
        for phase, layer in PHASES:
            ms = d.get(phase, 0)
            i = spans.add(trace, phase, layer, t, t + ms, root)
            if phase == "addBatch":
                add_batch_span[(p["query"], str(p["batch"]))] = (trace, i)
            t += ms
    for j in jobs.values():
        key = (j.get("query", ""), j["batch"])
        if key in add_batch_span:
            op_jobs.setdefault(add_batch_span[key][0], []).append(j)

    # ---- operators probe: one trace per query execution
    execs = [e for e in res.get("executions", []) if "error" not in e]
    exec_spans, query_jobs = {}, {}
    for e in execs:
        q = spans.add(e["group"], e["query"], "operators", e["start_ms"], e["end_ms"])
        pl = spans.add(e["group"], "plan", "exec", e["start_ms"], e["plan_end_ms"], q)
        ex = spans.add(e["group"], "execute", "exec", e["plan_end_ms"], e["end_ms"], q)
        exec_spans[e["group"]] = [pl, ex]
    for j in jobs.values():
        if j["group"] in exec_spans:
            query_jobs.setdefault(j["group"], []).append(j)

    # ---- Spark jobs and stages under the span that launched them
    for trace, js in list(op_jobs.items()) + list(query_jobs.items()):
        for j in js:
            if trace.startswith("batch-"):
                parent = add_batch_span[(j["query"], j["batch"])][1]
            else:
                parent = _parent_at(spans, exec_spans[trace], j["start_ms"])
            ji = spans.add(trace, f"job {j['id']}", "exec", j["start_ms"], j["end_ms"], parent)
            for s in stages_of.get(j["id"], ()):
                if s["submit_ms"] and s["complete_ms"]:
                    spans.add(trace, f"stage {s['id']}", "exec", s["submit_ms"],
                              s["complete_ms"], ji)

    # ---- timed module calls
    micro = res.get("micro", {})
    for name, v in micro.items():
        spans.add("micro", name, name.split(".")[0], v["start_ms"], v["end_ms"])

    # sources
    m["sources.latest_offset_ms"] = _p((p["duration_ms"].get("latestOffset", 0) for p in progress), 50)
    m["sources.get_batch_ms"] = _p((p["duration_ms"].get("getBatch", 0) for p in progress), 50)
    rows_in = sum(p["rows"] for p in progress)
    m["sources.rows_in"] = rows_in
    backlog = 0
    for st in info.get("streams", ()):
        starts = {p["batch"]: p["start_ms"] / 1e3 for p in progress if p["query"] == st["query"]}
        if starts:
            backlog = max(backlog, check.backlog_max(st["written"], st["batches"], starts))
    m["sources.backlog_files_max"] = backlog

    # core
    m["core.build_ms"] = res.get("build_ms") or (
        stats.median(d["build_ms"] for d in res["drains"]) if "drains" in res else 0.0)
    m["core.batches"] = len(progress)
    trig = [p["duration_ms"].get("triggerExecution", 0) for p in progress]
    m["core.trigger_ms_p50"] = _p(trig, 50)
    m["core.trigger_ms_p99"] = _p(trig, 99)
    m["core.planning_ms"] = _p((p["duration_ms"].get("queryPlanning", 0) for p in progress), 50)
    m["core.commit_ms"] = _p((p["duration_ms"].get("walCommit", 0) +
                              p["duration_ms"].get("commitOffsets", 0) for p in progress), 50)
    m["core.rows_per_s_1core"] = (
        info["one_core_rows"] / res["one_core_s"] if "one_core_s" in res else 0.0)

    # codec and functions
    def ns(key):
        return micro.get(key, {}).get("ns_per_row", 0.0)
    m["codec.encode_ns_per_row"] = ns("codec.encode")
    m["codec.unwrap_ns_per_row"] = ns("codec.unwrap")
    for f in FUNCTIONS:
        m[f"functions.{f}_ns_per_row"] = ns(f"functions.{f}")

    # sinks: the Spark jobs of micro-batches
    stream_stages = [s for js in op_jobs.values() for j in js for s in stages_of.get(j["id"], ())]
    add = [p["duration_ms"].get("addBatch", 0) for p in progress]
    m["sinks.add_batch_ms_p50"] = _p(add, 50)
    m["sinks.add_batch_ms_p99"] = _p(add, 99)
    written = sum(s["out_bytes"] for s in stream_stages)
    m["sinks.bytes_written"] = written
    m["sinks.write_amp"] = written / info["input_bytes"] if info.get("input_bytes") else 0.0
    m["sinks.rows_rewritten_per_row_in"] = (
        sum(s["out_records"] for s in stream_stages) / rows_in if rows_in else 0.0)
    m["sinks.shuffle_bytes"] = sum(s["shuffle_write"] for s in stream_stages)
    sink = info.get("sink")
    if sink and os.path.isdir(sink):
        on_disk = check.dir_bytes(sink)
        if workload == "cdc_to_table":
            live_dir = open(os.path.join(sink, "_CURRENT")).read().split()[0]
            snapshots = sum(1 for n in os.listdir(sink) if n.startswith("v"))
            live = check.dir_bytes(os.path.join(sink, live_dir))
        else:
            data = [n for n in os.listdir(sink) if n.endswith(".parquet")]
            snapshots = len(data)
            live = sum(os.path.getsize(os.path.join(sink, n)) for n in data)
        m["sinks.snapshots_on_disk"] = snapshots
        m["sinks.bytes_on_disk"] = on_disk
        m["sinks.space_amp"] = on_disk / live if live else 0.0
    else:
        m["sinks.snapshots_on_disk"] = m["sinks.bytes_on_disk"] = m["sinks.space_amp"] = 0

    # obs: the repo's MetricsFeed must agree with the benchmark's listener
    feed = res.get("feed", [])
    m["obs.feed_samples"] = len(feed)
    mine = {(p["query"], p["batch"], "num_input_rows"): p["rows"] for p in progress}
    mine.update({(p["query"], p["batch"], "trigger_execution_ms"):
                 p["duration_ms"].get("triggerExecution") for p in progress})
    theirs = {(s["query"], s["batch"], s["name"]): s["value"] for s in feed
              if s["name"] in ("num_input_rows", "trigger_execution_ms")}
    # both sides skip batches that read nothing
    theirs = {k: v for k, v in theirs.items()
              if theirs.get((k[0], k[1], "num_input_rows"), 0) > 0}
    mismatches = sum(1 for k in set(mine) | set(theirs) if mine.get(k) != theirs.get(k))
    fed = sum(v for k, v in theirs.items() if k[2] == "num_input_rows")
    if progress and fed != info["rows"]:
        mismatches += 1  # the feed's rows do not add up to the rows generated
    m["obs.feed_mismatches"] = mismatches

    # exec: per micro-batch
    n_ops = len(op_jobs) or 1
    op_stages = [s for js in op_jobs.values() for j in js for s in stages_of.get(j["id"], ())]
    per = lambda key: sum(s[key] for s in op_stages) / n_ops  # noqa: E731
    m["exec.plan_ms"] = _p((e["plan_end_ms"] - e["start_ms"] for e in execs), 50)
    m["exec.jobs"] = sum(len(js) for js in op_jobs.values()) / n_ops
    m["exec.stages"] = len(op_stages) / n_ops
    m["exec.tasks"] = per("tasks")
    m["exec.task_cpu_ms"] = per("cpu_ms")
    m["exec.task_run_ms"] = per("run_ms")
    m["exec.gc_ms"] = per("gc_ms")
    m["exec.scan_bytes"] = per("in_bytes")
    m["exec.shuffle_read_bytes"] = per("shuffle_read")
    m["exec.shuffle_write_bytes"] = per("shuffle_write")
    m["exec.spill_bytes"] = per("spill")
    m["exec.materialized_bytes"] = (
        sum(e.get("materialized_bytes", 0) for e in execs) / len(execs) if execs else 0.0)

    # operators: task CPU per probe execution, by the module the query calls
    cpu_by, n_by = {}, {}
    for e in execs:
        mod = info["modules"][e["query"]]
        n_by[mod] = n_by.get(mod, 0) + 1
        cpu_by[mod] = cpu_by.get(mod, 0.0) + sum(
            s["cpu_ms"] for j in query_jobs.get(e["group"], ()) for s in stages_of.get(j["id"], ()))
    for mod in MODULES:
        m[f"operators.{mod}.task_cpu_ms"] = cpu_by.get(mod, 0.0) / n_by[mod] if mod in n_by else 0.0

    m["gen.late_ms_p99"] = info.get("gen_late_ms_p99", 0.0)
    st = self_times(spans.items)
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = st.get(layer, 0.0)
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    m["traced.latency_p99_ms"] = info.get("latency_p99_ms", 0.0)

    trace_dir = os.path.join(os.path.dirname(run_dir), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{workload}.json"), "w") as f:
        json.dump({"spans": spans.items, "self_ms": st}, f)
    return m
