"""Per-layer metrics of a traced run.

Every traced run reports every name in PER_LAYER, whatever the workload,
so the figures line up across workloads. A layer a workload does not
exercise reads 0 there: `materialize.jobs` is 0 on ksql_serving, and that
is the prediction the layer table makes, measured.
"""

PER_LAYER = [
    # Catalyst, per operation (query, pull or trigger) from the tracker
    ("plan.analysis_ms", "ms"),
    ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    # the open-loop generator
    ("gen.late_ms_p99", "ms"),
    # operators + functions/graftbridge
    ("op.construct_s", "s"),
    ("op.execute_s", "s"),
    ("op.execute_s.q_pagerank", "s"),
    ("op.execute_s.q_dedup_jaccard", "s"),
    ("op.execute_s.q_bfs_hops", "s"),
    ("op.execute_s.q_ann_graph", "s"),
    ("op.execute_s.q_triangles", "s"),
    # Materialize: jobs started inside the construct call
    ("materialize.jobs", "count"),
    ("materialize.s", "s"),
    # Spark execution, from the listener
    ("exec.cpu_s", "s"),
    # CPU of the client threads: translation, planning, codegen, job submit
    ("client.cpu_s", "s"),
    # (executor + client CPU) / process CPU over the traced pass
    ("cpu.attributed_share", "ratio"),
    ("exec.run_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.input_bytes", "bytes"),
    ("exec.input_rows", "count"),
    ("exec.gc_s", "s"),
    ("exec.sched_delay_s", "s"),
    ("exec.straggler_stages", "count"),
    ("exec.failed_tasks", "count"),
    # streaming + state store, per data-carrying trigger
    ("stream.trigger_ms_p50", "ms"),
    ("stream.trigger_ms_p90", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"),
    ("stream.get_batch_ms", "ms"),
    ("stream.latest_offset_ms", "ms"),
    ("stream.wal_commit_ms", "ms"),
    ("stream.commit_offsets_ms", "ms"),
    ("stream.empty_batch_share", "ratio"),
    ("stream.backlog_rows", "count"),
    ("stream.backlog_slope", "1/s"),
    ("state.rows", "count"),
    ("state.memory_bytes", "bytes"),
    ("state.commit_ms", "ms"),
    ("state.updates_ms", "ms"),
    ("state.rows_updated", "count"),
    # host / JVM: adjudicate noise
    ("host.load1_start", "load"),
    ("host.process_cpu_s", "s"),
    ("jvm.gc_s", "s"),
    ("trace.overhead_share", "ratio"),
    ("failed_share", "ratio"),
]
# measured only by the optional ksql_serving workload
SERVING_LAYER = [
    # ksql Parser/Translator, by the in-process replay
    ("ksql.translate_ms_p50", "ms"),
    # plans.MaterializedViews
    ("mv.hit_ratio", "ratio"),
    ("mv.pull_service_ms_p50", "ms"),
    ("base.pull_service_ms_p50", "ms"),
    # ksql.RestServer
    ("rest.service_ms_p50", "ms"),
    ("rest.wait_ms_p90", "ms"),
    ("rest.busy_share", "ratio"),
    ("rest.response_bytes", "bytes"),
    ("rest.write_ms_p50", "ms"),
]

EXEC_KEYS = ["cpu_s", "run_s", "jobs", "stages", "tasks", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "input_bytes", "input_rows",
             "gc_s", "sched_delay_s", "straggler_stages", "failed_tasks"]
NAMED_QUERIES = ["q_pagerank", "q_dedup_jaccard", "q_bfs_hops", "q_ann_graph",
                 "q_triangles"]


def complete(values, extra=()):
    """Every per-layer metric with its unit; missing layers read 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": u}
            for n, u in [*PER_LAYER, *extra]}


def exec_sums(aggs):
    return {f"exec.{k}": sum(a[k] for a in aggs) for k in EXEC_KEYS}


def batch(r):
    t = r["traced"]
    qs = t["queries"]
    n = max(1, len(qs))
    v = exec_sums(qs.values())
    v["client.cpu_s"] = sum(q["client_cpu_s"] for q in qs.values())
    v["cpu.attributed_share"] = ((v["exec.cpu_s"] + v["client.cpu_s"]) / t["cpu_s"]
                                 if t["cpu_s"] else 0.0)
    v["op.construct_s"] = sum(q["construct_s"] for q in qs.values())
    v["op.execute_s"] = sum(q["execute_s"] for q in qs.values())
    for name in NAMED_QUERIES:
        if name in qs:
            v[f"op.execute_s.{name}"] = qs[name]["execute_s"]
    v["materialize.jobs"] = t["construct"]["jobs"]
    v["materialize.s"] = t["construct"]["job_s"]
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        v[f"plan.{k}"] = sum(q[k] for q in qs.values()) / n
    v["host.process_cpu_s"] = r["process_cpu_s"]
    v["jvm.gc_s"] = r["jvm_gc_s"]
    return complete(v)


def overhead_vs_untraced(record_path, cpu_ms_per_op):
    """Traced-vs-untraced difference of CPU per operation, against the
    untraced record of the same workload and seed when this checkout has
    one (0 otherwise)."""
    import json
    import os
    if not os.path.exists(record_path):
        return 0.0
    base = json.load(open(record_path))["end_to_end"]["cpu_ms_per_op"]["value"]
    return cpu_ms_per_op / base - 1.0 if base else 0.0


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default method); 0 when empty."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    if pos == lo or s[hi] == s[lo]:
        return s[lo]
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


PHASES = {"add_batch": "addBatch", "query_planning": "queryPlanning",
          "get_batch": "getBatch", "latest_offset": "latestOffset",
          "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}


def stream(r, click_due_us):
    """Per-trigger figures of the three queries inside the measured window."""
    lo = r["t0_ms"] + 1e3 * r["warm_s"]
    hi = lo + 1e3 * r["seconds"]
    window = [p for p in r["progress"] if lo <= p["start_ms"] < hi]
    data = [p for p in window if p["rows"] > 0]
    trig = [p["duration_ms"].get("triggerExecution", 0) for p in data]
    v = {"stream.trigger_ms_p50": quantile(trig, 0.5),
         "stream.trigger_ms_p90": quantile(trig, 0.9),
         "stream.empty_batch_share": 1 - len(data) / len(window) if window else 0.0}
    for k, ph in PHASES.items():
        v[f"stream.{k}_ms"] = _mean([p["duration_ms"].get(ph, 0) for p in data])
    # backlog of the windowed query: clicks due by a trigger's start minus
    # clicks it had read before that trigger
    import bisect
    due_ms = sorted(r["t0_ms"] + d / 1e3 for d in click_due_us)
    done, pts = 0, []
    for p in sorted((p for p in r["progress"] if p["query"] == "windowed"),
                    key=lambda p: p["batch"]):
        if lo <= p["start_ms"] < hi:
            pts.append(((p["start_ms"] - lo) / 1e3,
                        bisect.bisect_right(due_ms, p["start_ms"]) - done))
        done += p["rows"]
    if pts:
        v["stream.backlog_rows"] = _mean([b for _, b in pts])
    if len(pts) > 1:
        mt, mb = _mean([t for t, _ in pts]), _mean([b for _, b in pts])
        den = sum((t - mt) ** 2 for t, _ in pts)
        v["stream.backlog_slope"] = (sum((t - mt) * (b - mb) for t, b in pts) / den
                                     if den else 0.0)
    last = {}
    for p in window:
        last[p["query"]] = p
    v["state.rows"] = sum(s["rows"] for p in last.values() for s in p["state"])
    v["state.memory_bytes"] = sum(s["memory_bytes"] for p in last.values()
                                  for s in p["state"])
    v["state.commit_ms"] = _mean([sum(s["commit_ms"] for s in p["state"]) for p in data])
    v["state.updates_ms"] = _mean([sum(s["updates_ms"] for s in p["state"]) for p in data])
    v["state.rows_updated"] = sum(s["updated"] for p in window for s in p["state"])
    v["gen.late_ms_p99"] = quantile(r["gen_late_ms"], 0.99)
    if r["exec"]:
        v.update(exec_sums([r["exec"]]))
        v["cpu.attributed_share"] = (v["exec.cpu_s"] / r["process_cpu_s"]
                                     if r["process_cpu_s"] else 0.0)
        n = max(1, len(r["progress"]))
        for k in ("analysis_ms", "optimization_ms", "planning_ms"):
            v[f"plan.{k}"] = r["exec"][k] / n
    v["host.process_cpu_s"] = r["process_cpu_s"]
    v["jvm.gc_s"] = r["jvm_gc_s"]
    return complete(v)


def serving(replay, opened, window, mv_rewrites, host):
    """`replay`: the in-process replay's result (statements in the order
    sent: set-up, warm-up, then `opened`); `opened`: the client records of
    the open-loop window."""
    stmts = replay["statements"][-len(opened):]
    pulls = [(s, r) for s, r in zip(stmts, opened)
             if r["kind"] in ("mv", "base_key", "base_agg")]
    v = {"ksql.translate_ms_p50": quantile([s["translate_ms"] for s, _ in pulls], 0.5),
         "mv.pull_service_ms_p50": quantile([s["service_ms"] for s, r in pulls
                                       if r["kind"] == "mv"], 0.5),
         "base.pull_service_ms_p50": quantile([s["service_ms"] for s, r in pulls
                                         if r["kind"] != "mv"], 0.5)}
    n_mv = sum(r["kind"] == "mv" for r in opened)
    v["mv.hit_ratio"] = mv_rewrites / n_mv if n_mv else 0.0
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        v[f"plan.{k}"] = _mean([s[k] for s, _ in pulls])
    v["rest.service_ms_p50"] = quantile([s["service_ms"] for s in stmts], 0.5)
    v["rest.wait_ms_p90"] = quantile([1e3 * (r["done_t"] - r["due_t"]) - s["service_ms"]
                                for s, r in zip(stmts, opened)], 0.9)
    v["rest.busy_share"] = sum(s["service_ms"] for s in stmts) / (1e3 * window)
    v["rest.response_bytes"] = _mean([len(r["body"]) for r in opened])
    v["rest.write_ms_p50"] = quantile([1e3 * (r["done_t"] - r["due_t"]) for r in opened
                                 if r["kind"] in ("write", "ddl")], 0.5)
    v["gen.late_ms_p99"] = quantile([1e3 * (r["sent_t"] - r["due_t"]) for r in opened], 0.99)
    v.update(exec_sums([replay["exec"]]))
    v["host.process_cpu_s"] = host["process_cpu_s"]
    v["jvm.gc_s"] = host["jvm_gc_s"]
    return complete(v, SERVING_LAYER)


def request_spans(opened, replay_stmts):
    """Client-side spans of the window: request (due → response) with its
    queue (due → sent) and http (sent → response) children, and the
    replay's service time as a child of http."""
    spans, nid = [], 0

    def add(name, a, b, parent, req):
        nonlocal nid
        nid += 1
        spans.append({"id": nid, "name": name, "start_ms": 1e3 * a,
                      "end_ms": 1e3 * b, "parent": parent, "request": req})
        return nid

    for i, (r, s) in enumerate(zip(opened, replay_stmts)):
        req = f"{r['kind']}-{i}"
        top = add("request", r["due_t"], r["done_t"], 0, req)
        add("queue", r["due_t"], r["sent_t"], top, req)
        h = add("http", r["sent_t"], r["done_t"], top, req)
        end = min(r["done_t"], r["sent_t"] + s["service_ms"] / 1e3)
        add("service", r["sent_t"], end, h, req)
    return spans
