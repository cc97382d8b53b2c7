"""ksql_serving: open-loop REST client for graft's `RestServer`.

The server is the public `graft.ksql.RestServer` main in its own JVM over
the generated tables. This process is the client: at most CONNECTIONS
persistent HTTP connections, requests sent at their seeded due times
whatever the server's state, each timed from its due time.
"""
import http.client
import json
import re
import subprocess
import threading
import time

import numpy as np

import oracle

CONNECTIONS = 4
TIMEOUT_S = 120


class Server:
    def __init__(self, cmd, log_path):
        self.log_path = log_path
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(cmd, stdout=self.log, stderr=subprocess.STDOUT)
        self.port = None

    def wait_ready(self, timeout=TIMEOUT_S):
        end = time.time() + timeout
        while time.time() < end:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited {self.proc.returncode}: "
                                   + open(self.log_path).read()[-3000:])
            m = re.search(r"ksql REST surface on 127\.0\.0\.1:(\d+)",
                          open(self.log_path).read())
            if m:
                self.port = int(m.group(1))
                return
            time.sleep(0.1)
        raise RuntimeError("server did not come up")

    def _proc(self, name):
        with open(f"/proc/{self.proc.pid}/{name}") as f:
            return f.read()

    def cpu_s(self):
        fields = self._proc("stat").rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / 100.0  # utime + stime

    def peak_rss_mb(self):
        m = re.search(r"VmHWM:\s+(\d+) kB", self._proc("status"))
        return int(m.group(1)) / 1024.0

    def stop(self):
        self.proc.terminate()
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def gc_seconds(gc_log):
    """Sum of pause times in a -Xlog:gc log."""
    total = 0.0
    for line in open(gc_log):
        m = re.search(r"Pause.* (\d+\.\d+)ms$", line.strip())
        if m:
            total += float(m.group(1)) / 1e3
    return total


def post(conn, path, body):
    conn.request("POST", path, body=json.dumps(body),
                 headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    data = resp.read()
    return resp.status, data


def get(port, path):
    c = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        c.request("GET", path)
        return c.getresponse().read().decode()
    finally:
        c.close()


def statement(port, sql):
    """One /ksql statement outside the timed phases; raises on failure."""
    c = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        status, data = post(c, "/ksql", {"ksql": sql})
    finally:
        c.close()
    if status != 200:
        raise RuntimeError(f"set-up statement failed ({status}): {data[:500]!r}")


def pull(port, sql):
    c = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        status, data = post(c, "/query", {"ksql": sql})
    finally:
        c.close()
    return status, data


def rows_of(data):
    """/query JSON lines → (column names, rows)."""
    lines = data.decode().strip().split("\n")
    names = [f["name"] for f in json.loads(lines[0])["header"]["schema"]]
    rows = [json.loads(x)["row"]["columns"] for x in lines[1:]
            if x.startswith('{"row"')]
    return names, rows


def mv_rewrites(port):
    text = get(port, "/metrics")
    return sum(float(m) for m in re.findall(
        r"^ksql_mv_rewrites_total\{[^}]*\} (\S+)$", text, re.M))


def run_phase(port, reqs, data_dir, open_loop):
    """Send `reqs` over CONNECTIONS connections. Open loop: each request
    waits for its due time (seconds from phase start), never for the
    server. Returns one record per request, in schedule order."""
    out = [None] * len(reqs)
    nxt = [0]
    lock = threading.Lock()
    t0 = time.perf_counter()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(reqs):
                break
            q = reqs[i]
            due = t0 + q["due"] if open_loop else time.perf_counter()
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            path = "/query" if q["kind"] in ("mv", "base_key", "base_agg") else "/ksql"
            sql = q["sql"].replace("{data}", data_dir)
            try:
                status, body = post(conn, path, {"ksql": sql})
            except (OSError, http.client.HTTPException) as e:
                status, body = 0, f"{type(e).__name__}: {e}".encode()
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
            done = time.perf_counter()
            out[i] = dict(q, sql=sql, due_t=due - t0, sent_t=sent - t0,
                          done_t=done - t0, status=status, body=body)
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, time.perf_counter() - t0


def _frame(names, rows):
    import pandas as pd
    return pd.DataFrame(rows, columns=names)


def check(port, data_dir, records):
    """Correctness of every answered request, outside the timed phases.
    Returns a list of failure dicts."""
    failures = []
    con = oracle.connect(data_dir)
    for r in records:
        if r["status"] != 200:
            failures.append({"op": r["kind"], "class": f"HTTP{r['status']}",
                             "message": r["body"][:300].decode(errors="replace"),
                             "sql": r["sql"]})
    ok = [r for r in records if r["status"] == 200]

    # view-served pulls: same statement with the rewrite switched off, and
    # the DuckDB answer over the parquet (orders_src never changes)
    mv_sqls = sorted({r["sql"] for r in ok if r["kind"] == "mv"})
    statement(port, "SET 'spark.graft.mv.enabled'='false';")
    try:
        plain = {s: pull(port, s) for s in mv_sqls}
    finally:
        statement(port, "UNSET 'spark.graft.mv.enabled';")
    for r in ok:
        if r["kind"] not in ("mv", "base_agg"):
            continue
        names, rows = rows_of(r["body"])
        got = _frame(names, rows)
        want = con.sql(r["sql"].replace("orders_src", "orders")).df()
        why = oracle.frames_equal(got, want)
        if why is None and r["kind"] == "mv":
            st, body = plain[r["sql"]]
            why = (f"rewrite off answered {st}" if st != 200 else
                   oracle.frames_equal(got, _frame(*rows_of(body))))
        if why:
            failures.append({"op": r["kind"], "class": "Mismatch",
                             "message": why, "sql": r["sql"]})

    # keyed base pulls read `accounts`, which the writes upsert: the answer
    # must be the base row or a write to that key that could have been
    # applied (finished before the pull was sent, or overlapping it)
    base = {int(k): (n, float(b)) for k, n, b in con.sql(
        "SELECT c_custkey, c_name, c_acctbal FROM customer").fetchall()}
    writes = {}
    for r in ok:
        if r["kind"] == "write":
            m = re.search(r"VALUES \((\d+), '([^']*)', (-?[\d.]+), '([^']*)'\)",
                          r["sql"])
            writes.setdefault(int(m.group(1)), []).append(
                (r["sent_t"], r["done_t"], m.group(4),
                 (m.group(2), float(m.group(3)))))
    for r in ok:
        if r["kind"] != "base_key":
            continue
        key = int(re.search(r"c_custkey = (\d+)", r["sql"]).group(1))
        ws = writes.get(key, [])
        # the table keeps the newest updated_at among the applied writes
        before = sorted((w for w in ws if w[1] <= r["sent_t"]), key=lambda w: w[2])
        allowed = [before[-1][3] if before else base[key]]
        allowed += [w[3] for w in ws if w[0] < r["done_t"] and w[1] > r["sent_t"]]
        _, rows = rows_of(r["body"])
        got = [(row[1], float(row[2])) for row in rows]
        if len(got) != 1 or not any(
                got[0][0] == n and np.isclose(got[0][1], b, rtol=1e-12)
                for n, b in allowed):
            failures.append({"op": "base_key", "class": "Mismatch",
                             "message": f"got {got}, allowed {allowed}",
                             "sql": r["sql"]})
    return failures
