"""Seeded input generator for the perfbench workloads.

Everything the program receives during a benchmark run, apart from the
lake itself, comes from here, derived from one integer seed, so the same
seed always gives the same bytes:

* ``etl``       -- the hourly ETL inputs in the four source wire formats
                   (Parquet transactions, Extended JSON events, line
                   protocol device points, profile CSV), each with a fixed
                   share of injected defects whose counts are recorded;
* ``serve``     -- the reader request streams, the writer's upload batches
                   and the landing files its ETL triggers read;
* ``lake order``-- the per-pass query order of the lake_queries workload.

The lake the serve and query workloads read is not generated: ``lake/``
next to this file is a byte-identical copy of the repository's sf0.01
test lake (TESTDATA.md), the data the judged queries' oracles are
calibrated on. Request keys are drawn over that lake's real key space.

Each entry point returns a manifest (plain JSON-able dict) holding the
generator's own counts; the output checks compare the program's results
against those counts.

Usage (stand-alone): ``python3 gen.py <out_dir> <seed> [etl|serve]``.
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# sf0.01, not sf0.1: the lake_queries floor is per-query driver and
# planning work that barely moves with scale (on 4 cores the 12 judged lake
# queries take 35 s/pass at sf0.001, 31 s at sf0.01 and 42 s at sf0.1), so
# the small lake keeps a run inside its time budget without changing what
# the workload measures.
LAKE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake")


def _key_count(table, column):
    """Size of a dense 0-based key space in the lake (max key + 1)."""
    t = pq.read_table(os.path.join(LAKE_DIR, f"{table}.parquet"),
                      columns=[column])
    return int(pc.max(t[column]).as_py()) + 1


# ---- sizes ---------------------------------------------------------------
ETL_ROWS_PER_SOURCE = 2500      # per source per hourly cycle
# One cycle takes 11-13 s on 4 vCPUs at this size, so a 10 s run lands one
# hour; the generator writes one hour per ETL_CYCLE_FLOOR_S of run time
# (at least one), and a run that outpaces that wraps to the first hour
# again (an hourly replay; the checks count each hour once per run of it).
ETL_CYCLE_FLOOR_S = 10
DEFECT_RATES = dict(null=0.02, padded=0.03, out_of_range=0.01)
ETL_SOURCES = ("transactions", "events", "device_log", "profiles")
ETL_FORMATS = dict(transactions="parquet", events="extendedjson",
                   device_log="lineprotocol", profiles="csv")

SERVE_READ_SHARES = dict(point=0.30, range=0.20, collection=0.15,
                         timerange=0.15, sql_agg=0.10, sql_join=0.10)
SERVE_READS = 1000               # one stream the readers share
SERVE_WRITE_BATCHES = 60
SERVE_BATCH_ROWS = 100
SERVE_ETL_EVERY = 5             # every k-th write is an ETL trigger
SERVE_LANDING_FILES = 12
SERVE_LANDING_ROWS = 400
ZIPF_A = 1.3

# Six of the judged queries, one or more per engine mechanism the workload
# exists to measure: graph supersteps with per-round pins (graph_scc), an
# index-lifecycle stage-and-swap (dedup_index_delete), the custom graftx
# operators and rules (q_spacesaving_topk, w12_native_topk, mv_rewrite)
# and the streaming micro-batch floor (stream_routing). Their siblings
# (graph_hits, graph_pagerank, ann_filtered_escalate, ann_ivf_delete,
# dedup_index_compact, stream_sessions) repeat a mechanism already here at
# a higher cold-start cost and are left out so one run fits its budget.
LAKE_QUERIES = {
    "graph": ["graph_scc"],
    "index": ["dedup_index_delete"],
    "relational": ["q_spacesaving_topk", "w12_native_topk", "mv_rewrite"],
    "stream": ["stream_routing"],
}

EPOCH = dt.datetime(1970, 1, 1)
EVENTS_T0 = dt.datetime(2024, 1, 1)     # the lake's events start this day


def _rng(seed, stream):
    """Independent generator per named stream, so adding a stream never
    shifts the values of another."""
    return np.random.default_rng([int(seed), sum(map(ord, stream))])


def _ts(values):
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---- ETL hourly inputs -----------------------------------------------------

def _defects(r, n):
    """Disjoint seeded row sets for each defect kind; exact counts."""
    perm = r.permutation(n)
    out, at = {}, 0
    for kind, rate in DEFECT_RATES.items():
        k = int(round(rate * n))
        out[kind] = np.zeros(n, bool)
        out[kind][perm[at:at + k]] = True
        at += k
    return out


def _pad(s):
    return f"  {s}   "


def _email(i):
    return f"user{i}@example.com"


def _cycle(out_dir, seed, c, hour, order_keys):
    """One hourly cycle: four source files plus the generator's counts;
    transaction order keys fall in the lake's orders key space."""
    n = ETL_ROWS_PER_SOURCE
    base_us = int((hour - EPOCH).total_seconds()) * 10**6
    files, counts = {}, {}

    # relational: transactions slice as Parquet
    r = _rng(seed, f"etl-transactions-{c}")
    d = _defects(r, n)
    ids = c * n + np.arange(n)
    amount = np.round(r.uniform(1.0, 5000.0, n), 2)
    amount[d["out_of_range"]] = -np.round(r.uniform(1.0, 50.0,
                                                    d["out_of_range"].sum()), 2)
    status = r.choice(["paid", "pending", "refunded"], n).astype(object)
    status[d["padded"]] = [_pad(s) for s in status[d["padded"]]]
    email = np.array([_email(i) for i in r.integers(0, 10**6, n)], object)
    email[d["null"]] = None
    t = pa.table({
        "transaction_id": pa.array(ids, pa.int64()),
        # a varchar key, so the cleaning pass has a coercion to find
        "order_key": pa.array([str(k) for k in r.integers(0, order_keys, n)],
                              pa.string()),
        "customer_email": pa.array(list(email), pa.string()),
        "amount": amount,
        "currency": r.choice(["USD", "EUR", "GBP"], n),
        "status": pa.array(list(status), pa.string()),
        "created_at": pa.array(base_us + np.sort(r.integers(0, 3600 * 10**6, n)),
                               pa.int64()).cast(pa.timestamp("us"))})
    p = os.path.join(out_dir, f"transactions_{c:03d}.parquet")
    files["transactions"] = p
    counts["transactions"] = (n, d, _write(t, p))

    # document: events as canonical Extended JSON, one document per line
    r = _rng(seed, f"etl-events-{c}")
    d = _defects(r, n)
    ev_type = r.choice(["click", "view", "purchase", "signup"], n)
    value = np.round(r.uniform(0.0, 500.0, n), 2)
    value[d["out_of_range"]] = np.round(
        r.uniform(20000.0, 90000.0, d["out_of_range"].sum()), 2)
    user = r.integers(0, 5000, n)
    ms = base_us // 1000 + np.sort(r.integers(0, 3600 * 1000, n))
    lines = []
    for i in range(n):
        et = _pad(ev_type[i]) if d["padded"][i] else ev_type[i]
        uid = "null" if d["null"][i] else f'{{"$numberLong": "{user[i]}"}}'
        lines.append(
            f'{{"event_id": {{"$numberLong": "{c * n + i}"}}, '
            f'"user_id": {uid}, "event_type": {json.dumps(et)}, '
            f'"value": {{"$numberDouble": "{float(value[i])!r}"}}, '
            f'"ts": {{"$date": {{"$numberLong": "{ms[i]}"}}}}}}')
    p = os.path.join(out_dir, f"events_{c:03d}.ejson")
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    files["events"] = p
    counts["events"] = (n, d, os.path.getsize(p))

    # time series: device points as line protocol
    r = _rng(seed, f"etl-device_log-{c}")
    d = _defects(r, n)
    host = r.integers(0, 64, n)
    region = r.choice(["eu-west", "us-east", "ap-south"], n)
    temp = np.round(r.uniform(-10.0, 45.0, n), 2)
    temp[d["out_of_range"]] = np.round(
        r.uniform(400.0, 900.0, d["out_of_range"].sum()), 2)
    load = np.round(r.uniform(0.0, 1.0, n), 3)
    dstat = r.choice(["ok", "warn", "idle"], n)
    ns = (base_us + np.sort(r.integers(0, 3600 * 10**6, n))) * 1000
    lines = []
    for i in range(n):
        tags = f",region={region[i]}" if d["null"][i] else \
            f",host=h{host[i]:02d},region={region[i]}"
        st = _pad(dstat[i]) if d["padded"][i] else dstat[i]
        lines.append(f'device_log{tags} temp={float(temp[i])!r},load={float(load[i])!r},'
                     f'seq={c * n + i}i,status="{st}" {ns[i]}')
    p = os.path.join(out_dir, f"device_log_{c:03d}.lp")
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    files["device_log"] = p
    counts["device_log"] = (n, d, os.path.getsize(p))

    # flat file: profile CSV
    r = _rng(seed, f"etl-profiles-{c}")
    d = _defects(r, n)
    age = r.integers(18, 90, n)
    age_s = [str(a) for a in age]
    for i in np.flatnonzero(d["out_of_range"]):
        age_s[i] = str(int(r.integers(151, 400)))
    names = [f"Person {i}" for i in r.integers(0, 10**6, n)]
    rows = ["user_id,name,email,phone,age,country,status"]
    for i in range(n):
        uid = c * n + i
        nm, ag = names[i], age_s[i]
        if d["padded"][i]:
            nm = _pad(nm)
        em = "" if d["null"][i] else _email(uid).upper() if i % 7 == 0 \
            else _email(uid)
        ph = f"({200 + i % 700}) 555-{i % 10000:04d}"
        rows.append(f'{uid},{nm},{em},"{ph}",{ag},'
                    f'{"germany" if i % 3 == 0 else "france"},active')
    p = os.path.join(out_dir, f"profiles_{c:03d}.csv")
    with open(p, "w") as f:
        f.write("\n".join(rows) + "\n")
    files["profiles"] = p
    counts["profiles"] = (n, d, os.path.getsize(p))

    summary = {}
    for src, (rows_n, dd, nbytes) in counts.items():
        k = {kind: int(m.sum()) for kind, m in dd.items()}
        summary[src] = {"rows": rows_n, "bytes": nbytes,
                        "null": k["null"], "padded": k["padded"],
                        "out_of_range": k["out_of_range"],
                        "invalid": k["null"] + k["out_of_range"]}
    return files, summary


def etl_cycles(seconds):
    """Hours a run of ``seconds`` can use (at least one)."""
    return max(1, int(np.ceil(seconds / ETL_CYCLE_FLOOR_S)))


def etl(out_dir, seed, n_cycles):
    """Write ``n_cycles`` hourly cycles plus one warm-up cycle."""
    os.makedirs(out_dir, exist_ok=True)
    order_keys = _key_count("orders", "o_orderkey")
    start = dt.datetime(2024, 3, 1) + dt.timedelta(
        hours=int(_rng(seed, "etl-hour").integers(0, 24 * 30)))
    cycles = []
    for c in range(n_cycles + 1):
        hour = start + dt.timedelta(hours=c)
        files, summary = _cycle(out_dir, seed, c, hour, order_keys)
        cycles.append({"index": c, "hour": hour.strftime("%Y-%m-%dT%H:00:00"),
                       "day": hour.strftime("%Y-%m-%d"),
                       "files": files, "counts": summary})
    return {"dir": out_dir, "sources": list(ETL_SOURCES),
            "formats": ETL_FORMATS, "defect_rates": DEFECT_RATES,
            "rows_per_source": ETL_ROWS_PER_SOURCE,
            "warmup": cycles[-1], "cycles": cycles[:-1]}


# ---- serve request streams ----------------------------------------------

def _zipf_keys(r, n_keys, size):
    """Zipf-skewed keys over [0, n_keys): rank r maps through a seeded
    permutation, so the hot keys are scattered over the key space."""
    perm = r.permutation(n_keys)
    ranks = r.zipf(ZIPF_A, size) - 1
    return perm[ranks % n_keys]


def _key_spaces():
    """The key space each read class draws its Zipf key from, read off the
    lake: order keys (less the range width), user ids, the hours the
    events table spans, customer keys."""
    orders = _key_count("orders", "o_orderkey")
    ts = pq.read_table(os.path.join(LAKE_DIR, "events.parquet"),
                       columns=["ts"])["ts"]
    span_h = (pc.max(ts).as_py() - EVENTS_T0).total_seconds() / 3600
    return dict(point=orders, range=orders - 5,
                collection=_key_count("events", "user_id"),
                timerange=max(1, int(span_h) - 1),
                sql_agg=_key_count("customer", "c_custkey") - 50,
                sql_join=orders - 300)


def _read_request(cls, k):
    if cls == "point":
        return {"cls": cls, "table": "orders",
                "where": f"o_orderkey = {k}", "limit": 10}
    if cls == "range":
        return {"cls": cls, "table": "lineitem",
                "where": f"l_orderkey BETWEEN {k} AND {k + 4}", "limit": 200}
    if cls == "collection":
        return {"cls": cls, "collection": "events",
                "filter": json.dumps({"user_id": k}), "limit": 1000}
    if cls == "timerange":
        a = EVENTS_T0 + dt.timedelta(hours=k)
        b = a + dt.timedelta(hours=2)
        return {"cls": cls, "measurement": "events",
                "start": a.strftime("%Y-%m-%d %H:%M:%S"),
                "stop": b.strftime("%Y-%m-%d %H:%M:%S"),
                "fields": "user_id,event_type,value"}
    if cls == "sql_agg":
        return {"cls": "sql", "kind": cls, "limit": 1000, "sql": (
            "SELECT o_orderpriority, count(*) AS n, "
            "round(sum(o_totalprice), 2) AS total FROM orders "
            f"WHERE o_custkey BETWEEN {k} AND {k + 49} "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority")}
    if cls == "sql_join":
        return {"cls": "sql", "kind": cls, "limit": 1000, "sql": (
            "SELECT c.c_mktsegment AS segment, count(*) AS n, "
            "round(sum(l.l_extendedprice), 2) AS revenue "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderkey BETWEEN {k} AND {k + 299} "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")}
    raise ValueError(cls)


def _stream(r, n):
    """n read requests in blocks of 20 holding the exact class shares in
    a seeded order, so any window of the stream has the stated mix; Zipf
    keys per class."""
    block = [c for c, share in SERVE_READ_SHARES.items()
             for _ in range(round(share * 20))]
    picks = [c for _ in range(-(-n // len(block))) for c in r.permutation(block)]
    space = _key_spaces()
    keys = {c: iter(_zipf_keys(r, space[c], n).tolist())
            for c in SERVE_READ_SHARES}
    return [_read_request(c, next(keys[c])) for c in picks[:n]]


def serve(out_dir, seed, readers):
    """The shared read stream, writer batches and landing files for
    serve_mixed."""
    os.makedirs(out_dir, exist_ok=True)
    reads = _stream(_rng(seed, "serve-reads"), SERVE_READS)
    warm = _stream(_rng(seed, "serve-warmup"), 20)
    r = _rng(seed, "serve-writer")
    users = _key_count("events", "user_id")
    batches = []
    for b in range(SERVE_WRITE_BATCHES):
        ids = b * SERVE_BATCH_ROWS + np.arange(SERVE_BATCH_ROWS)
        batches.append([{
            "rec_id": int(k), "user_id": int(u), "kind": str(kd),
            "amount": float(a), "note": f"batch {b}"}
            for k, u, kd, a in zip(
                ids, r.integers(0, users, SERVE_BATCH_ROWS),
                r.choice(["credit", "debit", "refund"], SERVE_BATCH_ROWS),
                np.round(r.uniform(0.0, 999.0, SERVE_BATCH_ROWS), 2))])
    landing = []
    for j in range(SERVE_LANDING_FILES):
        p = os.path.join(out_dir, f"landing_{j:03d}.jsonl")
        with open(p, "w") as f:
            for i in range(SERVE_LANDING_ROWS):
                f.write(json.dumps({
                    "id": j * SERVE_LANDING_ROWS + i,
                    "name": f"  Landing {i}  ",
                    "email": _email(i).upper(),
                    "amount": round(float(r.uniform(0, 100)), 2)}) + "\n")
        landing.append({"path": p, "rows": SERVE_LANDING_ROWS})
    manifest = {"reads": reads, "readers": readers, "warmup": warm,
                "batches": batches, "landing": landing,
                "etl_every": SERVE_ETL_EVERY, "shares": SERVE_READ_SHARES,
                "zipf_a": ZIPF_A}
    with open(os.path.join(out_dir, "serve.json"), "w") as f:
        json.dump(manifest, f)
    return {"path": os.path.join(out_dir, "serve.json"),
            "readers": readers, "reads": SERVE_READS,
            "batches": len(batches), "batch_rows": SERVE_BATCH_ROWS,
            "landing_rows": SERVE_LANDING_ROWS}


def lake_order(seed, passes=16):
    """Seeded query order for each pass (pass 0 is the warm-up)."""
    names = [q for fam in LAKE_QUERIES.values() for q in fam]
    r = _rng(seed, "lake-order")
    return [list(r.permutation(names)) for _ in range(passes)]


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    what = sys.argv[3] if len(sys.argv) > 3 else "etl"
    res = {"etl": lambda: etl(out, seed, 1),
           "serve": lambda: serve(out, seed, 3)}[what]()
    print(json.dumps(res, default=str)[:2000])
