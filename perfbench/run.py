#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <batch_suite|ksql_serving|stream_changelog>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft and the
benchmark's JVM runners from source (sbt, offline) into $CARGO_TARGET_DIR
(default .bench_build); later runs start the JVM directly. Inputs are
generated from --seed. Outputs are checked for correctness outside the
timed region. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} — the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Host columns and
every failure (exception class and message) go to stderr and to a
record file under <build dir>/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()  # moved past the build: set-up excludes compiling
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
from layers import quantile  # noqa: E402

BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
MAX_LOAD = 2.0  # scripts/cut_records.sh gate: a run that starts above is noisy
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "-Xmx2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ─── build ─────────────────────────────────────────────────────────────

def _source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile graft's main sources plus the JVM runners once per source
    state; returns the runtime classpath."""
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: no graft sources under src/main/scala "
                         "— run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    log("building graft + runners (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=BUILD)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.override.build.repos=true",
           f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD}/sbt-global", "compile", "writeClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def java_cmd(cp, run_dir, main, *args, extra=()):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, HEAP, "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={run_dir}/tmp", *extra, "-cp", cp, main]
            + [str(a) for a in args])


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        finally:  # a timeout or a signal must not leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM runner exited {p.returncode}: {tail}")


# ─── host columns ──────────────────────────────────────────────────────

def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc():
    return len(os.sched_getaffinity(0))


def metric(value, unit):
    return {"value": float(value), "unit": unit}


# ─── workloads ─────────────────────────────────────────────────────────

BATCH_SCALE = 0.01


def batch_suite(cp, run_dir, seed, seconds, trace):
    import oracle
    data = f"{run_dir}/data"
    out = f"{run_dir}/out"
    os.makedirs(out, exist_ok=True)
    gen.tables(seed, data, BATCH_SCALE)
    result = f"{run_dir}/batch.json"
    t_jvm = time.time()
    run_jvm(java_cmd(cp, run_dir, "perfbench.BatchSuite", data, out, seconds,
                     1 if trace else 0, os.path.join(HERE, "batch_costs.txt"),
                     result, run_dir),
            f"{run_dir}/jvm.log", timeout=170)
    t_jvm = time.time() - t_jvm
    r = json.load(open(result))
    failures = [dict(e, op="prepare") for e in r["prepare_errors"]]
    lat = []
    for p in r["passes"]:
        for q in p["queries"]:
            if "error" in q:
                failures.append(dict(q["error"], op="query", name=q["name"]))
                # a failed query counts as one that took the whole run
                lat.append(170.0)
            else:
                lat.append(q["s"])
    # the last pass's outputs are on disk
    checked = [q["name"] for q in r["passes"][-1]["queries"] if "error" not in q]
    t_check = time.time()
    for name, why in sorted(oracle.check_batch(data, out, checked).items()):
        failures.append({"op": "check", "name": name, "class": "Mismatch",
                         "message": why})
    n_queries = len(r["passes"][0]["queries"])
    attempted = len(r["prepare_s"]) + len(lat) + len(checked)
    walls = [p["wall_s"] for p in r["passes"]]
    e2e = {
        "setup_s": metric(r["setup_epoch_ms"] / 1e3 - T_START, "s"),
        "latency_p50_ms": metric(1e3 * quantile(lat, 0.5), "ms"),
        "latency_p90_ms": metric(1e3 * quantile(lat, 0.9), "ms"),
        "throughput_per_s": metric(n_queries / quantile(walls, 0.5), "1/s"),
        "cpu_ms_per_op": metric(1e3 * r["cpu_s"] / len(lat), "ms"),
        "peak_rss_mb": metric(r["peak_rss_mb"], "MB"),
    }
    host = {"process_cpu_s": r["process_cpu_s"], "jvm_gc_s": r["jvm_gc_s"],
            "suite_wall_s": walls, "suite_cpu_s": r["cpu_s"],
            "jvm_setup_s": r["setup_s"], "jvm_wall_s": t_jvm,
            "check_s": time.time() - t_check,
            "query_s": {q["name"]: q["s"] for q in r["passes"][-1]["queries"]}}
    per_layer = layers.batch(r) if trace else {}
    return attempted, failures, e2e, per_layer, host


STREAM_RATE = 1000       # events/s of the open-loop reference rate
STREAM_WARM_S = 2.0
STREAM_BACKLOG = 300_000  # clicks that arrive at once after the window
STREAM_USERS = 100_000   # LIVE join table keys
STREAM_ACCOUNTS = 20_000 # re-aggregated changelog keys


def stream_changelog(cp, run_dir, seed, seconds, trace):
    events = f"{run_dir}/events"
    gen.stream_events(seed, events, STREAM_RATE, STREAM_WARM_S, seconds,
                      STREAM_BACKLOG, STREAM_USERS, STREAM_ACCOUNTS)
    result = f"{run_dir}/stream.json"
    run_jvm(java_cmd(cp, run_dir, "perfbench.StreamChangelog", events, result,
                     run_dir, 1 if trace else 0),
            f"{run_dir}/jvm.log", timeout=170)
    r = json.load(open(result))
    failures = [{"op": "check", "class": "Mismatch", "message": m}
                for m in r["mismatches"]]
    lat = r["latency_ms"]
    if not lat:
        failures.append({"op": "latency", "class": "NoSamples",
                         "message": "no result arrived from the window"})
    e2e = {
        "setup_s": metric(r["setup_epoch_ms"] / 1e3 - T_START, "s"),
        "latency_p50_ms": metric(quantile(lat, 0.5), "ms"),
        "latency_p90_ms": metric(quantile(lat, 0.9), "ms"),
        "throughput_per_s": metric(r["backlog"] / r["drain_s"], "1/s"),
        "cpu_ms_per_op": metric(1e3 * r["open_cpu_s"] / r["open_events"], "ms"),
        "peak_rss_mb": metric(r["peak_rss_mb"], "MB"),
    }
    # every fed event is one operation; each of the three result tables is
    # one more, checked against the recompute
    attempted = r["fed_events"] + len(r["results"])
    host = {"process_cpu_s": r["process_cpu_s"], "jvm_gc_s": r["jvm_gc_s"],
            "results": r["results"]}
    per_layer = {}
    if trace:
        import numpy as np
        per_layer = layers.stream(
            r, np.fromfile(f"{events}/clicks_due_us.i64", dtype="<i8").tolist())
    return attempted, failures, e2e, per_layer, host


SERVING_RATE = 4.0        # requests/s of the open-loop reference rate
SERVING_WARMUP = 24       # closed-loop requests before the window
SERVING_SATURATION = 48   # closed-loop requests of the capacity phase
SERVING_SETUP = [
    "CREATE STREAM orders_src WITH (PATH='{data}/orders.parquet');",
    "CREATE MATERIALIZED VIEW cust_orders_mv WITH ("
    "STATE_DIR='{run}/mv_state', "
    "DELTA='o_orderdate >= TIMESTAMP_NTZ ''2001-01-01''') AS "
    "SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS total "
    "FROM orders_src GROUP BY o_custkey;",
    "CREATE TABLE accounts WITH (PATH='{data}/accounts.parquet', KEY='c_custkey', "
    "TIMESTAMP='updated_at');",
]


def ksql_serving(cp, run_dir, seed, seconds, trace):
    import serving
    data = f"{run_dir}/data"
    sizes = gen.tables(seed, data, BATCH_SCALE)
    gen.accounts(data)
    sched = gen.serving_schedule(seed, sizes["customers"], SERVING_RATE, seconds,
                                 SERVING_WARMUP, SERVING_SATURATION)
    gc_log = f"{run_dir}/gc.log"
    srv = serving.Server(java_cmd(cp, run_dir, "graft.ksql.RestServer", data, 0,
                                  extra=[f"-Xlog:gc:file={gc_log}"]),
                         f"{run_dir}/server.log")
    try:
        srv.wait_ready()
        for sql in SERVING_SETUP:
            serving.statement(srv.port, sql.format(data=data, run=run_dir))
        warm, _ = serving.run_phase(srv.port, sched["warmup"], data, open_loop=False)
        setup_end = time.time()
        mv0 = serving.mv_rewrites(srv.port)
        cpu0 = srv.cpu_s()
        opened, window = serving.run_phase(srv.port, sched["open"], data, open_loop=True)
        cpu1 = srv.cpu_s()
        mv1 = serving.mv_rewrites(srv.port)
        sat, sat_wall = serving.run_phase(srv.port, sched["saturation"], data,
                                          open_loop=False)
        records = warm + opened + sat
        failures = serving.check(srv.port, data, records)
        peak = srv.peak_rss_mb()
        server_cpu = srv.cpu_s()
    finally:
        srv.stop()
    pulls = [r for r in opened if r["kind"] in ("mv", "base_key", "base_agg")]
    # a failed pull counts as one that took the client's whole timeout
    lat = [1e3 * (r["done_t"] - r["due_t"]) if r["status"] == 200
           else 1e3 * serving.TIMEOUT_S for r in pulls]
    e2e = {
        "setup_s": metric(setup_end - T_START, "s"),
        "latency_p50_ms": metric(quantile(lat, 0.5), "ms"),
        "latency_p90_ms": metric(quantile(lat, 0.9), "ms"),
        "throughput_per_s": metric(len(sat) / sat_wall, "1/s"),
        "cpu_ms_per_op": metric(1e3 * (cpu1 - cpu0) / len(opened), "ms"),
        "peak_rss_mb": metric(peak, "MB"),
    }
    host = {"process_cpu_s": server_cpu, "jvm_gc_s": serving.gc_seconds(gc_log),
            "open_requests": len(opened), "window_s": window,
            "mv_rewrites": mv1 - mv0}
    per_layer = {}
    if trace:
        # replay the same statements in-process: set-up (on its own view
        # state), warm-up, then the window, in the order they were sent
        stmts = ([{"kind": "setup", "sql": s.format(data=data, run=f"{run_dir}/replay")}
                  for s in SERVING_SETUP] +
                 [{"kind": r["kind"], "sql": r["sql"]}
                  for r in sorted(warm, key=lambda r: r["sent_t"])] +
                 [{"kind": r["kind"], "sql": r["sql"]} for r in opened])
        with open(f"{run_dir}/replay_in.json", "w") as f:
            json.dump(stmts, f)
        run_jvm(java_cmd(cp, run_dir, "perfbench.ServingReplay", data,
                         f"{run_dir}/replay_in.json", f"{run_dir}/replay.json", run_dir),
                f"{run_dir}/replay.log", timeout=120)
        replay = json.load(open(f"{run_dir}/replay.json"))
        for s in replay["statements"]:
            if "error" in s:
                failures.append(dict(s["error"], op="replay", kind=s["kind"]))
        per_layer = layers.serving(replay, opened, window, mv1 - mv0, host)
        with open(f"{run_dir}/spans.jsonl", "w") as f:
            for s in layers.request_spans(opened, replay["statements"][-len(opened):]):
                f.write(json.dumps(s) + "\n")
    return len(records), failures, e2e, per_layer, host


WORKLOADS = {"batch_suite": batch_suite, "ksql_serving": ksql_serving,
             "stream_changelog": stream_changelog}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so every started process is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start = load1()
    built = time.time()
    cp = ensure_build()
    global T_START
    T_START += time.time() - built
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(f"{run_dir}/tmp")
    try:
        attempted, failures, e2e, per_layer, host = WORKLOADS[a.workload](
            cp, run_dir, a.seed, a.seconds, bool(a.trace))
        spans = f"{run_dir}/spans.jsonl"
        if a.trace and os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                BUILD, "traces", f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host.update({"load1_start": load_start, "load1_end": load1(),
                 "run_wall_s": time.time() - T_START,
                 "nproc": nproc(), "noisy_start": load_start > MAX_LOAD})
    records = os.path.join(BUILD, "records")
    if a.trace:
        per_layer["trace.overhead_share"] = metric(layers.overhead_vs_untraced(
            os.path.join(records, f"{a.workload}-{a.seed}-0.json"),
            e2e["cpu_ms_per_op"]["value"]), "ratio")
        per_layer["failed_share"] = metric(len(failures) / attempted, "ratio")
        per_layer["host.load1_start"] = metric(load_start, "load")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "host": host, "failures": failures,
                   "end_to_end": e2e, "per_layer": per_layer},
                  f, indent=1, sort_keys=True)
    log("host " + json.dumps(host, sort_keys=True))
    for fl in failures:
        log("FAILED " + json.dumps(fl, sort_keys=True))
    metrics = per_layer if a.trace else e2e
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
