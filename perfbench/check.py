"""Correctness checks against DuckDB, run after the timed region.

Values compare as tools/compare.py compares them: rows as multisets of
column-name-sorted tuples, floats by their shortest round-trip repr, and
column dtype classes (int, float, bool, datetime, object) must agree.
Each function returns {op key: None if it matched, else the first
mismatch message}.
"""
import datetime
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb

import gen

TABLES = ["customer", "documents", "embeddings", "events", "lineitem", "nation", "orders",
          "part", "region", "supplier"]
COSINE_TOL = 5e-7 + 1e-12  # graft returns cosines rounded to 6 decimals
INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def duck_class(t):
    t = str(t)
    if t in INT_TYPES:
        return "int"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "datetime"
    return "object"


def norm(v, cls):
    if v is None:
        return "None"
    if cls == "float":
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if cls == "datetime":
        if isinstance(v, str):
            v = (datetime.date.fromisoformat(v) if len(v) == 10
                 else datetime.datetime.fromisoformat(v))
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        else:  # a date reads as its midnight, as pandas reads both
            v = datetime.datetime(v.year, v.month, v.day)
        return str(v)
    return str(v)


def query(con, sql, cache_dir=None):
    """(columns with classes, rows) of a DuckDB query. With `cache_dir`, the
    answer is kept there by the hash of the SQL and reused: the data is
    read-only, so an oracle's answer never changes."""
    path = None
    if cache_dir:
        path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
    rel = con.sql(sql)
    out = list(zip(rel.columns, [duck_class(t) for t in rel.dtypes])), rel.fetchall()
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "wb") as f:
            pickle.dump(out, f)
    return out


def compare(got_cols, got_rows, want_cols, want_rows):
    g_names = sorted(c for c, _ in got_cols)
    w_names = sorted(c for c, _ in want_cols)
    if g_names != w_names:
        return f"columns {g_names} != {w_names}"
    g_cls, w_cls = dict(got_cols), dict(want_cols)
    bad = [(c, g_cls[c], w_cls[c]) for c in g_names if g_cls[c] != w_cls[c]]
    if bad:
        return f"dtype class mismatch (graft vs oracle): {bad}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    g_ix = [c for c, _ in got_cols]
    w_ix = [c for c, _ in want_cols]

    def rows(rs, ix):
        order = [ix.index(c) for c in g_names]
        return sorted(tuple(norm(r[i], g_cls[g_names[k]]) for k, i in enumerate(order)) for r in rs)

    g, w = rows(got_rows, g_ix), rows(want_rows, w_ix)
    if g != w:
        diff = [(a, b) for a, b in zip(g, w) if a != b][:2]
        return f"values differ, e.g. {diff}"
    return None


def load_rows(path):
    with open(path) as f:
        d = json.load(f)
    return [tuple(c) for c in d["cols"]], [tuple(r) for r in d["rows"]]


def check_semantic(con, ops, results_dir):
    out = {}
    for t in ops:
        tid = t["id"]
        if tid in out:
            continue
        path = os.path.join(results_dir, f"{tid}.json")
        if not os.path.exists(path):
            out[tid] = "no result kept"
            continue
        try:
            out[tid] = compare(*load_rows(path), *query(con, gen.tile_sql(t)))
        except Exception as e:  # a bad oracle run is a failed check, not a crash
            out[tid] = f"check error: {e}"
    return out


def check_pipeline(con, ops, results_dir, cache_dir=None):
    out = {}
    for name in sorted({o["entry"] for o in ops}):
        err = os.path.join(results_dir, f"{name}.error")
        if os.path.exists(err):
            with open(err) as f:
                out[name] = "setup run failed: " + f.read().splitlines()[0][:200]
            continue
        try:
            with open(os.path.join(results_dir, f"{name}.sql")) as f:
                sql = f.read()
            files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
            rel = con.sql(f"SELECT * FROM read_parquet({files!r})") if files else None
            if rel is None:
                out[name] = "no output files"
                continue
            got = (list(zip(rel.columns, [duck_class(t) for t in rel.dtypes])), rel.fetchall())
            out[name] = compare(*got, *query(con, sql, cache_dir))
        except Exception as e:
            out[name] = f"check error: {e}"
    return out


def _cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def check_artifact(con, ops, op_records, results_dir, cells):
    """Replays the ingest state op by op (only writes that succeeded) and
    checks every read against the raw facts ingested so far."""
    vecs = dict(con.execute("SELECT vec_id, embedding FROM embeddings").fetchall())
    days = {gen._day(d) for d in range(1, gen.FIRST_DAY)}
    vec_hi = [(0, gen.FIRST_VECTORS)]
    dropped = set()  # taken down, and filtered from later appends
    out = {}
    for r in op_records:
        op = ops[r["idx"]]
        kind = op["kind"]
        ok = "error" not in r
        if kind == "mc_append":
            if ok:
                days.add(op["day"])
            continue
        if kind == "ivf_append":
            if ok:
                vec_hi.append((op["lo"], op["hi"]))
            continue
        if kind == "takedown":
            if ok:
                dropped |= set(op["users"])
            continue
        if not ok:
            continue
        key = f"op{r['seq']}"
        path = os.path.join(results_dir, f"{key}.json")
        try:
            got_cols, got_rows = load_rows(path)
            if kind in ("rollup", "dense"):
                want = _metric_oracle(con, op, days, dropped)
                out[key] = compare(got_cols, got_rows, *want)
            else:
                ids = [i for lo, hi in vec_hi for i in range(lo, hi)]
                out[key] = _check_ivf(op, got_cols, got_rows, vecs, ids, cells)
        except Exception as e:
            out[key] = f"check error: {e}"
    return out


def day_in(col, days):
    """SQL: the UTC day of timestamp `col` is one of `days` (YYYY-MM-DD).
    Spelled with strftime: DuckDB 1.0 drops every row of an IN list over
    CAST(ts AS DATE) when the filter is pushed into a parquet scan."""
    return f"strftime({col}, '%Y-%m-%d') IN ({', '.join(repr(d) for d in sorted(days))})"


def _metric_oracle(con, op, days, dropped):
    excl = f" AND user_id NOT IN ({', '.join(map(str, sorted(dropped)))})" if dropped else ""
    facts = f"SELECT * FROM events WHERE {day_in('ts', days)}{excl}"
    cents = "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
    if op["kind"] == "rollup":
        return query(con, (
            f"SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
            f"CAST({cents} AS BIGINT) AS value_cents, min(value) AS value_min, "
            f"max(value) AS value_max FROM ({facts}) f "
            f"WHERE CAST(ts AS DATE) BETWEEN DATE '{op['d0']}' AND DATE '{op['d1']}' "
            f"AND user_id BETWEEN {op['u0']} AND {op['u1']} GROUP BY 1"))
    return query(con, (
        f"WITH m AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n, "
        f"{cents} AS c, max(value) AS vmax FROM ({facts}) f "
        f"WHERE user_id = {op['user']} AND CAST(ts AS DATE) BETWEEN DATE '{op['d0']}' "
        f"AND DATE '{op['d1']}' GROUP BY 1, 2), "
        f"spine AS (SELECT DISTINCT m.user_id, CAST(d.range AS DATE) AS day FROM m, "
        f"range(DATE '{op['d0']}', DATE '{op['d1']}' + INTERVAL 1 DAY, INTERVAL 1 DAY) d) "
        f"SELECT s.user_id, s.day, CAST(coalesce(m.n, 0) AS BIGINT) AS n_events, "
        f"CAST(coalesce(m.c, 0) AS BIGINT) AS value_cents, "
        f"last_value(m.vmax IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.day "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_max "
        f"FROM spine s LEFT JOIN m USING (user_id, day)"))


def _check_ivf(op, cols, rows, vecs, ids, cells):
    names = [c for c, _ in cols]
    qi, ni, ci, ri = (names.index(c) for c in ("query_id", "neighbor_id", "cosine", "rank"))
    live = set(ids)
    by_q = {}
    for r in rows:
        q, n, cos, rank = r[qi], r[ni], float(r[ci]), r[ri]
        if n not in live:
            return f"query {q}: neighbour {n} was never ingested"
        exact = _cosine(vecs[q], vecs[n])
        if abs(cos - exact) > COSINE_TOL:
            return f"query {q}: cosine {cos!r} for {n}, exact {exact!r}"
        by_q.setdefault(q, []).append((rank, cos, n))
    queries = range(op["q0"], op["q1"])
    if set(by_q) - set(queries):
        return f"answers for queries outside the batch: {sorted(set(by_q) - set(queries))}"
    for q, hits in by_q.items():
        hits.sort()
        if [h[0] for h in hits] != list(range(1, len(hits) + 1)):
            return f"query {q}: ranks {[h[0] for h in hits]}"
        if any(hits[i][1] < hits[i + 1][1] for i in range(len(hits) - 1)):
            return f"query {q}: cosines not in rank order"
    full = op["nprobe"] <= 0 or op["nprobe"] >= cells
    if full:
        for q in queries:
            # the serve never returns a query as its own neighbour
            exact = sorted((-_cosine(vecs[q], vecs[n]), n) for n in ids if n != q)[:op["k"]]
            hits = by_q.get(q, [])
            if len(hits) != len(exact):
                return f"full probe, query {q}: {len(hits)} hits, exact top-k has {len(exact)}"
            for (rank, cos, n), (neg, en) in zip(hits, exact):
                if abs(cos + neg) > COSINE_TOL:
                    return f"full probe, query {q}: rank {rank} is {n}, exact top-k has {en}"
    return None
