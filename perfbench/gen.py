"""Seeded input generation for every workload.

Everything a run feeds the program comes from here and from `--seed`
alone: the parquet tables, the REST request schedule, and the stream
event log. The same seed gives byte-identical files; a different seed
changes them (see test_gen.py). Generators are computed up front, so
they never slow down with the system under test.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.44, 0.14, 0.15, 0.14, 0.13]
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
                     "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate",
             "gizmo"]
PART_TYPES = np.array(["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL",
                       "MEDIUM"])
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000
TS = pa.timestamp("us")


def _rng(seed, stream):
    # one independent stream per artefact: adding a table never shifts
    # the bytes of another
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _money(x):
    return np.round(x, 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy", write_statistics=True,
                   use_dictionary=True)


def _spread(r, lo, hi, n):
    """n integers covering [lo, hi) evenly, in seeded order: the seed moves
    values between rows but never the total, so every seed gives the
    queries the same amount of work."""
    return r.permutation(lo + (np.arange(n) * (hi - lo)) // n)


def tables(seed, out_dir, scale):
    """TPC-H-shaped star schema plus events, documents and embeddings,
    with the column names, types and value ranges graft's queries read.
    Sizes that set the work (lines per order, words per document, the
    near-duplicate count) are fixed per scale; the seed only shuffles
    and draws values."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))

    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n_supp))}),
        f"{out_dir}/supplier.parquet")
    adj = r.integers(0, len(PART_ADJ), n_part)
    noun = r.integers(0, len(PART_NOUN), n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": PART_TYPES[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(900.0 + (np.arange(n_part) % 1000) * 0.1)}),
        f"{out_dir}/part.parquet")

    o_date = EPOCH_1995_US + r.integers(0, 2404, n_ord) * DAY_US
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(o_date, TS),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")

    lines = _spread(r, 1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord), lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_ok)
    qty = r.integers(1, 51, n_li).astype(float)
    flag = r.integers(0, 3, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * r.uniform(900.0, 2100.0, n_li)),
        "l_discount": _money(r.integers(0, 11, n_li) / 100.0),
        "l_tax": _money(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": np.array(["A", "N", "R"])[flag],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(o_date[l_ok] + r.integers(1, 122, n_li) * DAY_US,
                               TS)}),
        f"{out_dir}/lineitem.parquet")

    ev_ts = np.sort(EPOCH_2024_US + r.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, TS),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": EVENT_TYPES[r.integers(0, 5, n_ev)],
        "value": _money(np.maximum(0.01, r.exponential(25.0, n_ev))),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    n_doc = 500
    # 25 near-duplicates of earlier documents, as the dedup queries expect
    dups = set(r.choice(np.arange(25, n_doc), 25, replace=False).tolist())
    lengths = _spread(r, 10, 100, n_doc)
    texts = []
    for i in range(n_doc):
        if i in dups:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            k = int(lengths[i])
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), k)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": LANGS[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")

    v = r.standard_normal((500, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(500), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, 500), pa.int32())}),
        f"{out_dir}/embeddings.parquet")
    return {"customers": n_cust, "orders": n_ord}


def accounts(data_dir):
    """The table the serving writes upsert: customer's key, name and
    balance, plus the `updated_at` time its compaction orders by."""
    c = pq.read_table(f"{data_dir}/customer.parquet",
                      columns=["c_custkey", "c_name", "c_acctbal"])
    at = np.full(c.num_rows, np.datetime64("2024-01-01T00:00:00", "us"))
    _write(c.append_column("updated_at", pa.array(at, TS)),
           f"{data_dir}/accounts.parquet")


def _zipf_keys(r, n, space, a=1.2):
    """Skewed keys in [0, space): Zipf ranks scattered by a fixed
    permutation, so hot keys are not simply the smallest ids."""
    ranks = np.minimum(r.zipf(a, n), space) - 1
    perm = r.permutation(space)
    return perm[ranks]


def poisson_arrivals(r, rate, seconds):
    """Due times (seconds from phase start) of a Poisson process of the
    given rate, conditioned on its expected count: given their number,
    Poisson arrivals are sorted uniform draws. Fixing the count keeps the
    offered load the same for every seed."""
    return np.sort(r.uniform(0.0, seconds, int(round(rate * seconds))))


def serving_schedule(seed, n_cust, rate, seconds, warmup_requests,
                     saturation_requests):
    """REST request mix: ~50% keyed pulls the view serves, ~35% base-table
    pulls (keyed and ad-hoc aggregates), ~15% writes (INSERT VALUES plus
    occasional CREATE/DROP). Returns the closed warm-up phase, the
    open-loop phase and the closed saturation phase as lists of
    {"due", "kind", "sql"}."""
    r = _rng(seed, 10)
    scratch_live = {}
    n_writes = [0]

    def draw(n, dues):
        # exact shares in seeded order, so every seed offers the same mix
        counts = np.floor(np.array([0.50, 0.25, 0.10, 0.15]) * n).astype(int)
        counts[0] += n - counts.sum()
        kinds = r.permutation(np.repeat(["mv", "base_key", "base_agg", "write"],
                                        counts))
        keys = _zipf_keys(r, n, n_cust)
        prios = PRIORITIES[r.integers(0, 5, n)]
        bal = _money(r.uniform(-999.99, 9999.99, n))
        ddl = r.random(n) < 0.15
        out = []
        for i in range(n):
            k, key = str(kinds[i]), int(keys[i])
            if k == "mv":
                sql = ("SELECT o_custkey, COUNT(*) AS n, SUM(o_totalprice) AS "
                       f"total FROM orders_src WHERE o_custkey = {key} "
                       "GROUP BY o_custkey;")
            elif k == "base_key":
                sql = ("SELECT c_custkey, c_name, c_acctbal FROM accounts "
                       f"WHERE c_custkey = {key};")
            elif k == "base_agg":
                sql = ("SELECT o_orderstatus, COUNT(*) AS n, "
                       "SUM(o_totalprice) AS total FROM orders_src WHERE "
                       f"o_orderpriority = '{prios[i]}' GROUP BY o_orderstatus;")
            elif ddl[i]:
                # CREATE and DROP alternate per scratch name; both forms are
                # idempotent, so concurrent requests cannot make them fail
                k, name = "ddl", f"scratch_{i % 4}"
                live = scratch_live.get(name, False)
                scratch_live[name] = not live
                sql = (f"DROP STREAM IF EXISTS {name};" if live else
                       f"CREATE OR REPLACE STREAM {name} WITH "
                       "(PATH='{data}/nation.parquet');")
            else:
                # each write is newer than every earlier one: the table keeps
                # the row with the latest updated_at per key
                n_writes[0] += 1
                t = np.datetime64("2030-01-01T00:00:00") + np.timedelta64(n_writes[0], "s")
                sql = ("INSERT INTO accounts (c_custkey, c_name, c_acctbal, "
                       f"updated_at) VALUES ({key}, 'Customer#{key:09d}', "
                       f"{bal[i]:.2f}, '{str(t).replace('T', ' ')}');")
            out.append({"due": round(float(dues[i]), 6), "kind": k, "sql": sql})
        return out

    warmup = draw(warmup_requests, np.zeros(warmup_requests))
    dues = poisson_arrivals(r, rate, seconds)
    open_loop = draw(len(dues), dues)
    saturation = draw(saturation_requests, np.zeros(saturation_requests))
    return {"warmup": warmup, "open": open_loop, "saturation": saturation}


def stream_events(seed, out_dir, rate, warm, seconds, backlog, users,
                  accounts):
    """The stream workload's three changelogs, as raw little-endian int64
    columns the JVM runner reads (one file per column, plus meta.json).

    - clicks: (due_us, uid, amt, cat) at `rate` events/s for `warm` +
      `seconds`, then `backlog` events due at the end all at once
      (saturation).
    - users: the LIVE join table, one row per user up front, then tier
      changes that never move a user's region (so the join result does
      not depend on how micro-batches interleave the two sources).
    - accts: the changelog for table→table re-aggregation; updates move
      accounts between segments.
    """
    r = _rng(seed, 20)
    os.makedirs(out_dir, exist_ok=True)
    end = warm + seconds
    dues = poisson_arrivals(r, rate, end)
    n = len(dues)
    due_us = np.concatenate([(dues * 1e6).astype(np.int64),
                             np.full(backlog, int(end * 1e6), np.int64)])
    m = len(due_us)
    cols = {
        "clicks_due_us": due_us,
        "clicks_uid": _zipf_keys(r, m, users).astype(np.int64),
        "clicks_amt": r.integers(1, 1000, m).astype(np.int64),
        "clicks_cat": r.integers(0, 64, m).astype(np.int64),
        "users_region": r.integers(0, 32, users).astype(np.int64),
        "accts_init_seg": r.integers(0, 48, accounts).astype(np.int64),
        "accts_init_bal": r.integers(0, 10_000, accounts).astype(np.int64),
    }
    # one changelog update per ~4 clicks on each live table, spread over
    # the same timeline
    n_up = m // 4
    up_due = np.sort(r.choice(due_us, n_up))
    cols["users_up_due_us"] = up_due
    cols["users_up_uid"] = _zipf_keys(r, n_up, users).astype(np.int64)
    cols["users_up_tier"] = r.integers(0, 8, n_up).astype(np.int64)
    cols["accts_up_due_us"] = np.sort(r.choice(due_us, n_up))
    cols["accts_up_id"] = _zipf_keys(r, n_up, accounts).astype(np.int64)
    cols["accts_up_seg"] = r.integers(0, 48, n_up).astype(np.int64)
    cols["accts_up_bal"] = r.integers(0, 10_000, n_up).astype(np.int64)
    meta = {"rate": rate, "warm": warm, "seconds": seconds,
            "open_events": int(n),
            "backlog": int(backlog), "users": users, "accounts": accounts,
            "columns": {}}
    for name, arr in cols.items():
        arr = np.ascontiguousarray(arr, dtype="<i8")
        arr.tofile(f"{out_dir}/{name}.i64")
        meta["columns"][name] = int(len(arr))
    with open(f"{out_dir}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta
