"""Per-layer metrics of a traced run.

The harness records spans around its own calls (query, builder call,
drain) and Spark's listener events (jobs, stages, tasks, planning phases,
micro-batches). Here the events become spans, every span gets a parent by
interval containment, and self times are summed per layer. A layer's
metrics are totals per warm pass, reported as the median over the traced
warm passes; per-batch metrics are divided by the pass's batch count.
"""
import stats

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")

UNITS = {
    "session.build_ms": "ms", "session.init_ms": "ms", "session.reinit_ms": "ms",
    "tables.load_ms": "ms",
    "build.ms": "ms", "build.jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.exchanges": "count",
    "plan.broadcast_joins": "count", "plan.wscg_stages": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.task_wait_ms": "ms", "exec.slot_busy_share": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes",
    "exec.task_failures": "count",
    "driver.gap_ms": "ms",
    "stream.batches": "count",
    **{f"stream.{p}_ms": "ms" for p in PHASES},
    "stream.trigger_ms": "ms", "stream.start_ms": "ms", "stream.stop_ms": "ms",
    "stream.batch_p50_ms": "ms", "stream.batch_tail_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.rows_removed": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.rows_dropped_by_watermark": "count",
    "sink.batch_ms": "ms", "sink.files_written": "count",
    "sink.bytes_written": "bytes", "sink.ckpt_files": "count",
    "sink.ckpt_bytes": "bytes",
    "harness.staging_ms": "ms", "harness.readback_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "trace.unattributed_ms": "ms", "trace.overhead_ratio": "ratio",
}


def build_spans(res):
    """All spans of the run as dicts with parents assigned. Listener facts
    ride on their spans: tasks on stages, plan counts on `plan.counts`,
    phase durations and state on micro-batches."""
    spans = [dict(s) for s in res["spans"]]
    windows = [s for s in spans if s["layer"] == "query"]

    def owner(t):
        for w in windows:
            if w["start"] - 1 <= t < w["end"] + 1:
                return w
        return None

    def add(name, layer, start, end, w, parent=-1, **attrs):
        s = {"id": len(spans), "name": name, "layer": layer, "start": start,
             "end": end, "parent": parent, "query": w["query"],
             "pass": w["pass"], **attrs}
        spans.append(s)
        return s

    ev = res["events"]
    ends = {e["job"]: e for e in ev if e["kind"] == "job_end"}
    jobs, stage_job = {}, {}
    for e in ev:
        if e["kind"] != "job_start" or e["job"] not in ends:
            continue
        w = owner(e["t"])
        if w is None:
            continue
        jobs[e["job"]] = add(f"job {e['job']}", "exec", e["t"],
                             ends[e["job"]]["t"], w, stream=e["stream"])
        for st in e["stages"]:
            stage_job[st] = jobs[e["job"]]
    stages = {}
    for e in ev:
        if e["kind"] == "stage" and e["stage"] in stage_job and e["end"] > 0:
            j = stage_job[e["stage"]]
            stages[e["stage"]] = add(f"stage {e['stage']}", "exec", e["start"],
                                     e["end"], j, parent=j["id"], tasks=[])
    for e in ev:
        if e["kind"] == "task" and e["stage"] in stages:
            stages[e["stage"]]["tasks"].append(e)
    for e in ev:
        if e["kind"] != "qe":
            continue
        w = owner(e["t"])
        if w is None:
            continue
        for ph in e["phases"]:
            add(f"plan.{ph['phase']}", "plan", ph["start"], ph["end"], w)
        add("plan.counts", "plan", e["t"], e["t"], w, exchanges=e["exchanges"],
            broadcast_joins=e["broadcast_joins"], wscg=e["wscg"])
    by_stream = {}
    for e in ev:
        if e["kind"] == "batch":
            w = owner(e["t"])
            if w is None:
                continue
            trig = e["durations"].get("triggerExecution", 0)
            b = add(f"batch {e['batch']}", "stream", e["t"], e["t"] + trig, w,
                    durations=e["durations"], state=e["state"], stream=e["id"])
            by_stream.setdefault(e["id"], []).append(b)
    for e in ev:
        if e["kind"] in ("stream_start", "stream_stop") and e["id"] in by_stream:
            bs = by_stream[e["id"]]
            w = owner(e["t"])
            if w is None:
                continue
            if e["kind"] == "stream_start":
                add("stream.start", "stream", e["t"], min(b["start"] for b in bs), w)
            else:
                add("stream.stop", "stream", max(b["end"] for b in bs), e["t"], w)
    containers = [s for s in spans if s["layer"] in ("build", "drain", "query")
                  or s["name"].startswith("batch ")
                  or s["name"] in ("stream.start", "stream.stop")]
    stats.assign_parents([s for s in spans if s["parent"] == -1
                          and s["layer"] != "query"], containers)
    return spans


def within(spans, parent_ids):
    """Spans whose parent chain reaches one of `parent_ids`."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        p = s["parent"]
        while p != -1 and p not in parent_ids:
            p = by_id[p]["parent"]
        if p != -1:
            out.append(s)
    return out


def pass_metrics(spans, selfs, passrec, cores):
    """Layer totals for one pass."""
    m = {}
    ps = [s for s in spans if s["pass"] == passrec["pass"]]
    queries = [s for s in ps if s["layer"] == "query"]
    builds = [s for s in ps if s["layer"] == "build"]
    jobs = [s for s in ps if s["name"].startswith("job ")]
    stages = [s for s in ps if s["name"].startswith("stage ")]
    tasks = [t for s in stages for t in s["tasks"]]
    phases = [s for s in ps if s["layer"] == "plan" and s["name"] != "plan.counts"]
    counts = [s for s in ps if s["name"] == "plan.counts"]
    batches = [s for s in ps if s["name"].startswith("batch ")]

    m["build.ms"] = sum(s["end"] - s["start"] for s in builds)
    m["build.jobs"] = len([j for j in within(ps, {b["id"] for b in builds})
                           if j["name"].startswith("job ")])
    for ph in ("analysis", "optimization", "planning"):
        m[f"plan.{ph}_ms"] = sum(s["end"] - s["start"] for s in phases
                                 if s["name"] == f"plan.{ph}")
    m["plan.exchanges"] = sum(s["exchanges"] for s in counts)
    m["plan.broadcast_joins"] = sum(s["broadcast_joins"] for s in counts)
    m["plan.wscg_stages"] = sum(s["wscg"] for s in counts)

    m["exec.jobs"], m["exec.stages"], m["exec.tasks"] = len(jobs), len(stages), len(tasks)
    for key, field in (("task_ms", "run"), ("cpu_ms", "cpu"), ("gc_ms", "gc"),
                       ("task_wait_ms", "wait"), ("shuffle_write_bytes", "shw"),
                       ("shuffle_read_bytes", "shr"), ("spill_bytes", "spill"),
                       ("input_bytes", "input")):
        m[f"exec.{key}"] = sum(t.get(field, 0) for t in tasks)
    m["exec.task_failures"] = sum(1 for t in tasks if t["failed"])
    job_union = stats.union_length((j["start"], j["end"]) for j in jobs)
    busy = sum(t["finish"] - t["launch"] for t in tasks)
    m["exec.slot_busy_share"] = busy / (cores * job_union) if job_union else 0.0

    gap = 0.0
    for q in queries:
        mine = [(s["start"], s["end"]) for s in jobs + phases if s["query"] == q["query"]]
        gap += (q["end"] - q["start"]) - stats.union_length(
            stats.clip(i, (q["start"], q["end"])) for i in mine)
    m["driver.gap_ms"] = gap

    m["stream.batches"] = len(batches)
    for p in PHASES:
        m[f"stream.{p}_ms"] = sum(b["durations"].get(p, 0) for b in batches)
    m["stream.trigger_ms"] = sum(b["end"] - b["start"] for b in batches)
    for k in ("start", "stop"):
        m[f"stream.{k}_ms"] = sum(s["end"] - s["start"] for s in ps
                                  if s["name"] == f"stream.{k}")
    ops = [op for b in batches for op in b["state"]]
    last = {}
    for b in sorted(batches, key=lambda b: b["start"]):
        last[b["stream"]] = b
    m["state.rows_total"] = sum(op["rows_total"] for b in last.values() for op in b["state"])
    m["state.memory_bytes"] = sum(op["memory_bytes"] for b in last.values() for op in b["state"])
    m["state.rows_updated"] = sum(op["rows_updated"] for op in ops)
    m["state.rows_removed"] = sum(op["rows_removed"] for op in ops)
    m["state.commit_ms"] = sum(op["commit_ms"] for op in ops)
    m["state.rows_dropped_by_watermark"] = sum(op["dropped"] for op in ops)

    nb = max(1, len(batches))
    files = {f["kind"]: f for f in passrec.get("files", [])}
    m["sink.batch_ms"] = m["stream.addBatch_ms"] / nb
    m["sink.files_written"] = files.get("sink", {}).get("files", 0) / nb
    m["sink.bytes_written"] = files.get("sink", {}).get("bytes", 0) / nb
    m["sink.ckpt_files"] = files.get("ckpt", {}).get("files", 0) / nb
    m["sink.ckpt_bytes"] = files.get("ckpt", {}).get("bytes", 0) / nb

    streaming = {b["query"] for b in batches}
    staging = [j for j in within(ps, {b["id"] for b in builds})
               if j["name"].startswith("job ") and not j["stream"]
               and j["query"] in streaming]
    m["harness.staging_ms"] = stats.union_length((j["start"], j["end"]) for j in staging)
    m["harness.readback_ms"] = sum(s["end"] - s["start"] for s in ps
                                   if s["layer"] == "drain" and s["query"] in streaming)
    m["jvm.gc_ms"] = passrec["gc_ms"]
    m["jvm.jit_ms"] = passrec["jit_ms"]
    m["trace.unattributed_ms"] = sum(unattributed(ps, selfs, q) for q in queries)
    return m, batches


def unattributed(ps, selfs, q):
    """Wall time of query span `q` minus the self times of every span
    below it; negative when overlapping spans count some time twice."""
    below = [s for s in ps if s["query"] == q["query"] and s["id"] != q["id"]]
    return (q["end"] - q["start"]) - sum(selfs[s["id"]] for s in below)


def per_query(spans, selfs, passrec):
    out = []
    ps = [s for s in spans if s["pass"] == passrec["pass"]]
    for q in (s for s in ps if s["layer"] == "query"):
        layer_self = {}
        for s in ps:
            if s["query"] == q["query"] and s["id"] != q["id"]:
                layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]]
        wall = q["end"] - q["start"]
        un = unattributed(ps, selfs, q)
        out.append({"pass": passrec["pass"], "query": q["query"], "wall_ms": wall,
                    "self_ms": layer_self, "unattributed_ms": un,
                    "unattributed_share": un / wall if wall else 0.0})
    return out


def per_layer(res, cores):
    spans = build_spans(res)
    selfs = stats.self_times(spans)
    passes = res["passes"]
    measured = [p for p in passes if p["kind"] == "measured"]
    traced = [p for p in measured if p["traced"]]
    untraced = [p for p in measured if not p["traced"]]
    cold = passes[0]
    per_pass, all_batches = [], []
    for p in traced:
        m, b = pass_metrics(spans, selfs, p, cores)
        per_pass.append(m)
        all_batches += b
    values = {k: stats.median(m[k] for m in per_pass) for k in per_pass[0]}
    cold_m, _ = pass_metrics(spans, selfs, cold, cores)
    # staging is cached after the first pass and JIT is mostly done by then:
    # both are reported from the cold pass, where users pay them
    values["harness.staging_ms"] = cold_m["harness.staging_ms"]
    values["jvm.jit_ms"] = cold_m["jvm.jit_ms"]
    trig = [b["end"] - b["start"] for b in all_batches]
    p50 = stats.median(trig) if trig else 0.0
    tail_v, tail_p, tail_n = stats.tail(trig) if trig else (0.0, 0.0, 0)
    values["stream.batch_p50_ms"] = p50
    values["stream.batch_tail_ms"] = tail_v
    setup = res["setup"]
    values["session.build_ms"] = setup["build_ms"]
    values["session.init_ms"] = setup["init_ms"]
    values["session.reinit_ms"] = stats.median(res["reinit_ms"])
    values["tables.load_ms"] = setup["tables_ms"]
    values["trace.overhead_ratio"] = (
        stats.median(p["wall_s"] for p in traced) /
        stats.median(p["wall_s"] for p in untraced))
    queries = [r for p in traced + [cold] for r in per_query(spans, selfs, p)]
    warm_q = [r for r in queries if r["pass"] > 0]
    detail = {
        "traced_passes": len(traced), "untraced_passes": len(untraced),
        "batch_tail_percentile": tail_p, "batch_samples": tail_n,
        "queries_within_10pct": sum(abs(r["unattributed_share"]) <= 0.10 for r in warm_q),
        "queries_traced": len(warm_q),
        "layer_self_ms": {k: stats.median(
            sum(r["self_ms"].get(k, 0.0) for r in warm_q if r["pass"] == p["pass"])
            for p in traced) for k in ("build", "drain", "plan", "exec", "stream")},
        "per_query": queries,
    }
    return {k: values[k] for k in UNITS}, UNITS, detail
