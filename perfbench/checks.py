"""Output checks for the perfbench workloads, run after the timed region.

Each check returns a list of failure strings (empty = pass). They compare
the program's outputs with DuckDB over the same Parquet and with the
generator's own counts:

* ``etl``   -- per-route row counts, archive = extracted, invalid-row
               counts, validation-report violation counts, the daily
               rollup and the quality report, all against the generator's
               counts of rows and injected defects;
* ``serve`` -- a seeded sample of read responses against DuckDB, uploaded
               batches read back exactly, ETL-trigger row counts;
* ``lake``  -- every query's warm-up output against its oracle SQL in
               DuckDB, and every timed pass's row count and row hash
               against the warm-up output's.

Value comparison follows the judged-query rules: columns compared by
name, equal types, equal row counts, equal values in order (NaN equals
NaN, None equals None).
"""
import datetime as dt
import glob
import json
import math
import os
import re

import duckdb
import pandas as pd

ROUTES = {"financial_data": "transaction|order",
          "processed_events": "event|log",
          "user_data_wh": "user|profile",
          "user_data_doc": "user|profile"}
REQUIRED = {"transactions": "customer_email", "events": "user_id",
            "device_log": "host", "profiles": "email"}
RANGED = {"transactions": ("amount", "below minimum 0"),
          "events": ("value", "above maximum 10000"),
          "device_log": ("temp", "above maximum 150"),
          "profiles": ("age", "above maximum 150")}


def _parquet(path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return files


def _count(con, path, where=""):
    files = _parquet(path)
    if not files:
        return 0
    return con.execute(
        f"SELECT count(*) FROM read_parquet(?, union_by_name=true) {where}",
        [files]).fetchone()[0]


# ---- value normalisation ---------------------------------------------------

def _ts_str(t):
    """java.sql.Timestamp.toString form: fraction without trailing zeros."""
    frac = f"{t.microsecond:06d}".rstrip("0") or "0"
    return t.strftime("%Y-%m-%d %H:%M:%S") + "." + frac


_TS = re.compile(r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}(:\d{2}(\.\d{1,9})?)?")


def norm(v):
    """Canonical form for comparing JSON, Parquet and DuckDB values;
    timestamps (datetime, java.sql.Timestamp or LocalDateTime text) become
    one string form."""
    if isinstance(v, dt.datetime):
        return _ts_str(v)
    if isinstance(v, str) and _TS.fullmatch(v):
        day, _, clock = v.replace("T", " ").partition(" ")
        hms, _, frac = clock.partition(".")
        hms = (hms + ":00")[:8] if hms.count(":") == 1 else hms
        return _ts_str(dt.datetime.fromisoformat(
            f"{day} {hms}.{(frac + '000000')[:6]}"))
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "tolist"):
        return norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    return v


def _rows(cols, tuples):
    return [tuple((c, norm(v)) for c, v in sorted(zip(cols, t)))
            for t in tuples]


def _records(data):
    return [tuple(sorted((k, norm(v)) for k, v in r.items())) for r in data]


def _same_multiset(a, b):
    return sorted(map(repr, a)) == sorted(map(repr, b))


# ---- etl_hourly ------------------------------------------------------------

def etl(result, manifest):
    fails = []
    con = duckdb.connect()
    lake = result["lake"]
    by_index = {c["index"]: c for c in manifest["cycles"]}
    run = [by_index[c["index"]] for c in result["cycles"]]
    if not run:
        return ["etl: no cycle completed"]
    exp_rows = {s: sum(c["counts"][s]["rows"] for c in run)
                for s in manifest["sources"]}
    exp_invalid = {s: sum(c["counts"][s]["invalid"] for c in run)
                   for s in manifest["sources"]}
    for src in manifest["sources"]:
        base = os.path.join(lake, src)
        for route, pat in ROUTES.items():
            want = exp_rows[src] if re.search(pat, src) else 0
            got = _count(con, os.path.join(base, route))
            if got != want:
                fails.append(f"etl: {src}/{route} has {got} rows, "
                             f"generator produced {want}")
        archive = _count(con, os.path.join(base, "archive"))
        extracted = sum(c["processed"][src] for c in result["cycles"])
        if not (archive == extracted == exp_rows[src]):
            fails.append(f"etl: {src} archive={archive} extracted={extracted} "
                         f"generator={exp_rows[src]}")
        bad = _count(con, os.path.join(base, "archive"), "WHERE NOT _is_valid")
        if bad != exp_invalid[src]:
            fails.append(f"etl: {src} has {bad} invalid archived rows, "
                         f"generator injected {exp_invalid[src]}")
    # validation reports: violation counts equal the injected defects
    for c in result["cycles"]:
        counts = by_index[c["index"]]["counts"]
        for src, reps in c["validation"].items():
            k = counts[src]
            field, msg = RANGED[src]
            want = {}
            if k["null"]:
                want[f"{REQUIRED[src]} missing or empty"] = k["null"]
            if k["out_of_range"]:
                want[f"{field} {msg}"] = k["out_of_range"]
            got = {}
            for e in reps["Schema Validator"]["errors"]:
                m = re.fullmatch(r"(.*): (\d+) records", e)
                got[m.group(1) if m else e] = int(m.group(2)) if m else -1
            if got != want:
                fails.append(f"etl: {c['op']} {src} schema violations {got} "
                             f"!= injected {want}")
            biz = reps["Business Rule Validator"]["errors"]
            want_b = ([f"Rule '{field}_range': {k['out_of_range']} "
                       "violations found"] if k["out_of_range"] else [])
            if sorted(biz) != want_b:
                fails.append(f"etl: {c['op']} {src} business rules {biz} "
                             f"!= {want_b}")
    # daily rollup = generator totals per (source, day)
    want = {}
    for c in run:
        for src in manifest["sources"]:
            key = (src, c["day"])
            r, i = want.get(key, (0, 0))
            want[key] = (r + c["counts"][src]["rows"],
                         i + c["counts"][src]["invalid"])
    files = _parquet(os.path.join(lake, "rollup_daily"))
    got = {} if not files else {
        (s, d): (r, i) for s, d, r, i in con.execute(
            "SELECT _source, day, rows, invalid_rows FROM read_parquet(?)",
            [files]).fetchall()}
    if got != want:
        fails.append(f"etl: rollup_daily {sorted(got.items())} != generator "
                     f"{sorted(want.items())}")
    # quality report: one line per cycle with the extracted total
    qfiles = glob.glob(os.path.join(lake, "quality_report", "*.json"))
    reps = {} if not qfiles else dict(con.execute(
        "SELECT run_id, records_extracted FROM read_json_auto(?)",
        [qfiles]).fetchall())
    want_q = {c["op"]: sum(by_index[c["index"]]["counts"][s]["rows"]
                           for s in manifest["sources"])
              for c in result["cycles"]}
    if reps != want_q:
        fails.append(f"etl: quality reports {reps} != {want_q}")
    return fails


# ---- serve_mixed -----------------------------------------------------------

def _lake_con(lake_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(lake_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _expected_read(con, req):
    cls = req["cls"]
    if cls in ("point", "range"):
        sql = f"SELECT * FROM {req['table']} WHERE {req['where']}"
    elif cls == "collection":
        conj = " AND ".join(f"{k} = {json.dumps(v)}"
                            for k, v in json.loads(req["filter"]).items())
        sql = f"SELECT * FROM {req['collection']} WHERE {conj}"
    elif cls == "timerange":
        cols = ", ".join(["ts"] + req["fields"].split(","))
        sql = (f"SELECT {cols} FROM {req['measurement']} WHERE "
               f"ts >= TIMESTAMP '{req['start']}' AND "
               f"ts < TIMESTAMP '{req['stop']}'")
    else:
        sql = req["sql"]
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return _rows(cols, cur.fetchall()), cls == "sql"


def serve(result, lake_dir, manifest):
    fails = []
    con = _lake_con(lake_dir)
    bad = [r for r in result["reads"] + result["writes"] if r["status"] != 200]
    if bad:
        fails.append(f"serve: {len(bad)} requests failed, first: "
                     f"{(result['samples'] + result['write_errors'])[:1]}")
    checked = 0
    for s in result["samples"]:
        if s["status"] != 200:
            continue
        body = json.loads(s["body"])
        got = _records(body["data"])
        want, ordered = _expected_read(con, s["request"])
        same = got == want if ordered else _same_multiset(got, want)
        if not same or body["count"] != len(want):
            fails.append(f"serve: {s['request']} returned {got[:3]}... "
                         f"({body['count']} rows), DuckDB {want[:3]}... "
                         f"({len(want)} rows)")
        checked += 1
    if checked == 0:
        fails.append("serve: no read response sampled")
    # uploads read back exactly
    sent = [w["arg"] for w in result["writes"]
            if w["cls"] == "upload" and w["status"] == 200]
    want = [tuple(sorted((k, norm(v)) for k, v in r.items()))
            for b in sent for r in manifest["batches"][b]]
    files = _parquet(result["uploads"])
    got = []
    if files:
        cur = con.execute("SELECT * FROM read_parquet(?)", [files])
        got = _rows([d[0] for d in cur.description], cur.fetchall())
    if not _same_multiset(got, want):
        fails.append(f"serve: uploads read back {len(got)} rows, "
                     f"{len(want)} were sent, or values differ")
    runs = [w["arg"] for w in result["writes"]
            if w["cls"] == "etl_run" and w["status"] == 200]
    want_n = sum(manifest["landing"][a]["rows"] for a in runs)
    got_n = _count(con, result["etl_out"])
    if got_n != want_n:
        fails.append(f"serve: etl/run landed {got_n} rows, expected {want_n}")
    return fails


# ---- lake_queries ----------------------------------------------------------

def _frame(con, sql):
    """Columns sorted by name, pandas dtypes, rows of normalised values."""
    df = con.execute(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(None if _missing(v) else norm(v) for v in r)
            for r in df.itertuples(index=False, name=None)]
    return list(df.columns), [str(t) for t in df.dtypes], rows


def _missing(v):
    return v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v))


def _equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(map(_equal, a, b))
    return a == b


def lake(result, lake_dir, work):
    fails = []
    con = _lake_con(lake_dir)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for q, sql in sorted(oracle.items()):
        if not sql:
            fails.append(f"lake: {q} has no oracle SQL")
            continue
        files = sorted(_parquet(os.path.join(result["out_dir"], q)))
        if not files:
            fails.append(f"lake: {q} wrote no output")
            continue
        listed = ", ".join(f"'{p}'" for p in sorted(files))
        gc, gt, gr = _frame(con, f"SELECT * FROM read_parquet([{listed}])")
        ec, et, er = _frame(con, sql)
        if gc != ec:
            fails.append(f"lake: {q} columns {gc} != oracle {ec}")
        elif gt != et:
            fails.append(f"lake: {q} types {gt} != oracle {et}")
        elif len(gr) != len(er):
            fails.append(f"lake: {q} has {len(gr)} rows, oracle {len(er)}")
        else:
            bad = [(i, g, e) for i, (g, e) in enumerate(zip(gr, er))
                   if not all(map(_equal, g, e))]
            if bad:
                fails.append(f"lake: {q} {len(bad)} rows differ from the "
                             f"oracle, first {bad[0]}")
    digests = result["warm_digests"]
    for s in result["samples"]:
        want = digests.get(s["query"])
        if want is None or (s["rows"], s["hash"]) != (want["rows"],
                                                       want["hash"]):
            fails.append(f"lake: pass {s['pass']} {s['query']} output "
                         f"rows/hash {s['rows']}/{s['hash']} != warm-up "
                         f"{want}")
    if not result["samples"]:
        fails.append("lake: no timed query completed")
    return fails
