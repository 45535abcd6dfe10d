"""Seeded op lists for the three workloads.

Only what these functions return reaches graft: the harness builds each op
from its spec. The same seed always gives the same ops (and, for
semantic_mix, the same DuckDB SQL); `gen_workload` is the single entry.
"""
import random

# --- semantic_mix -----------------------------------------------------------

SALES_FROM = (
    "lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "LEFT JOIN customer c ON o.o_custkey = c.c_custkey "
    "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey")
EVENTS_FROM = "events e"

ATTRS = {
    "sales": {
        "orderkey": "l.l_orderkey", "linenumber": "l.l_linenumber",
        "returnflag": "l.l_returnflag", "linestatus": "l.l_linestatus",
        "shipdate": "l.l_shipdate", "quantity": "l.l_quantity",
        "discount": "l.l_discount", "price": "l.l_extendedprice",
        "priority": "o.o_orderpriority", "orderstatus": "o.o_orderstatus",
        "orderdate": "o.o_orderdate", "segment": "c.c_mktsegment",
        "nation": "n.n_name",
    },
    "events": {
        "event_id": "e.event_id", "etype": "e.event_type",
        "user_id": "e.user_id", "ts": "e.ts", "value": "e.value",
    },
}


def _money(x):
    return f"CAST(sum(CAST(floor({x} * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0"


MEASURES = {
    "sales": {
        "n_lines": "count(*)",
        "revenue": _money("l.l_extendedprice"),
        "qty": "sum(l.l_quantity)",
        "avg_disc": "CAST(sum(CAST(l.l_discount AS DECIMAL(18,9))) AS DOUBLE) / count(*)",
        "max_price": "max(l.l_extendedprice)",
        "orders": "count(DISTINCT l.l_orderkey)",
    },
    "events": {
        "n_events": "count(*)",
        "users": "count(DISTINCT e.user_id)",
        "value_total": _money("e.value"),
        "value_max": "max(e.value)",
    },
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
NATIONS = [f"NATION_{i}" for i in range(25)]
ETYPES = ["click", "error", "purchase", "signup", "view"]

# lineitem's own columns, and the ones behind its joins
SALES_FLAT_GROUPS = [("returnflag", None), ("linestatus", None), ("shipdate", "year"),
                     ("shipdate", "quarter"), ("shipdate", "month")]
SALES_JOIN_GROUPS = [("priority", None), ("orderstatus", None), ("segment", None),
                     ("nation", None), ("orderdate", "year"), ("orderdate", "quarter"),
                     ("orderdate", "month")]
EVENTS_GROUPS = [("etype", None), ("ts", "day"), ("ts", "month"),
                 ("user_id", None)]
FOLDS = [("returnflag", ["A", "N", "R"]), ("orderstatus", ["F", "O", "P"]),
         ("linestatus", ["F", "O"])]


def _sales_filter(rng, flat):
    """A filter on lineitem's own columns (`flat`) or on a joined one."""
    if flat:
        kind = rng.randrange(3)
        if kind == 0:
            return ["quantity", ">=", float(rng.randint(5, 45))]
        if kind == 1:
            return ["discount", "<", rng.choice([0.02, 0.04, 0.06, 0.08])]
        return ["returnflag", "=", rng.choice(["A", "N", "R"])]
    kind = rng.randrange(3)
    if kind == 0:
        return ["segment", "in", sorted(rng.sample(SEGMENTS, rng.randint(1, 3)))]
    if kind == 1:
        return ["nation", "in", sorted(rng.sample(NATIONS, rng.randint(2, 8)))]
    return ["priority", "=", rng.choice(PRIORITIES)]


def _events_filter(rng):
    kind = rng.randrange(3)
    if kind == 0:
        return ["etype", "in", sorted(rng.sample(ETYPES, rng.randint(1, 3)))]
    if kind == 1:
        return ["user_id", "<", rng.randint(200, 1400)]
    return ["value", ">=", float(rng.randint(0, 200))]


def _tile(rng, base, kind, tid):
    """One tile spec. Sales aggregates read lineitem alone; every other
    sales tile groups or filters through the joins."""
    t = {"id": tid, "base": base, "kind": kind, "filter": None}
    flat = base == "events" or kind == "agg"
    flt = (lambda r: _sales_filter(r, flat)) if base == "sales" else _events_filter
    if base == "sales":
        groups = SALES_FLAT_GROUPS if flat else SALES_JOIN_GROUPS
    else:
        groups = EVENTS_GROUPS
    measures = sorted(MEASURES[base])
    if kind in ("agg", "topn", "union", "fold"):
        t["filter"] = flt(rng)
    if kind == "agg":
        n = rng.randint(1, 2)
        picked = rng.sample([g for g in groups if g[0] != "user_id"], n)
        if n == 2 and picked[0][0] == picked[1][0]:
            picked = picked[:1]
        t["groups"] = [list(g) for g in picked]
        t["measures"] = sorted(rng.sample(measures, 2))
    elif kind == "topn":
        t["groups"] = [list(rng.choice(groups))]
        t["measures"] = rng.sample(measures, 2)
        t["limit"] = rng.choice([5, 10, 20])
    elif kind == "pick":
        # (orderkey, linenumber) repeats in this data, so sales picks sort
        # on every picked column; event_id is unique
        keys = ["orderkey", "linenumber"] if base == "sales" else ["event_id"]
        others = [a for a in ATTRS[base] if a not in keys]
        t["cols"] = keys + sorted(rng.sample(others, 3))
        t["keys"] = t["cols"] if base == "sales" else keys
        t["filter"] = _sales_filter(rng, False) if base == "sales" else flt(rng)
        t["limit"] = rng.choice([20, 50, 100])
    elif kind == "fold":
        attr, vals = rng.choice(FOLDS)
        t["groups"] = [list(rng.choice([g for g in groups if g[0] != attr]))]
        t["fold"] = [[f"n_{v.lower()}", attr, v] for v in vals]
    elif kind == "union":
        t["groups"] = [list(rng.choice(groups))]
        t["measures"] = sorted(rng.sample(measures, 2))
        t["filter2"] = flt(rng)
    elif kind in ("funnel", "steps"):
        t["steps"] = rng.sample(["view", "click", "purchase", "signup"], rng.randint(2, 3))
        if rng.random() < 0.5:
            t["filter"] = ["user_id", "<", rng.randint(300, 1500)]
        if kind == "steps":
            t["limit"] = rng.choice([20, 50, 100])
    return t


def semantic_ops(seed, dashboards, prefix="d"):
    """A dashboard session: `dashboards` dashboards, every third one over
    events and the others over sales. Each shows four new tiles, then
    refreshes the top-N tile of the previous dashboard of its base (its own
    on the first), so a fifth of the ops repeat earlier work exactly. Tile
    kinds are stratified: every dashboard has an aggregate, a top-N and a
    pick tile, plus a fold / union / second top-N tile (sales, in seeded
    rotation) or a funnel / match-steps tile (events, alternating)."""
    rng = random.Random(f"semantic_mix:{seed}")
    extra = {"sales": ["fold", "union", "topn"], "events": ["funnel", "steps"]}
    turn = {base: rng.randrange(len(ks)) for base, ks in extra.items()}
    last_topn = {}
    ops = []
    for d in range(dashboards):
        base = "events" if d % 3 == 1 else "sales"
        kinds = ["topn", "agg", "pick", extra[base][turn[base] % len(extra[base])]]
        turn[base] += 1
        tiles = [_tile(rng, base, k, f"{prefix}{d}t{i}") for i, k in enumerate(kinds)]
        refresh = last_topn.get(base, tiles[0])
        last_topn[base] = tiles[0]
        rng.shuffle(tiles)
        ops += tiles + [refresh]
    return ops


def _lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    return str(v)


def _where(base, f):
    if not f:
        return "TRUE"
    col = ATTRS[base][f[0]]
    if f[1] == "in":
        return f"{col} IN ({', '.join(_lit(v) for v in f[2])})"
    return f"{col} {f[1]} {_lit(f[2])}"


def _group(base, g):
    col = ATTRS[base][g[0]]
    if g[1] is None:
        return col, g[0]
    return f"date_trunc('{g[1]}', {col})", f"{g[0]}_{g[1]}"


def _agg_select(base, groups, measures, flt):
    frm = SALES_FROM if base == "sales" else EVENTS_FROM
    gs = [_group(base, g) for g in groups]
    sel = [f"{e} AS {n}" for e, n in gs] + [f"{MEASURES[base][m]} AS {m}" for m in measures]
    grp = f" GROUP BY {', '.join(str(i + 1) for i in range(len(gs)))}" if gs else ""
    return f"SELECT {', '.join(sel)} FROM {frm} WHERE {_where(base, flt)}{grp}", [n for _, n in gs]


def _steps_ctes(steps, flt):
    ctes = [f"ev AS (SELECT * FROM events e WHERE {_where('events', flt)})",
            f"s0 AS (SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = '{steps[0]}' GROUP BY 1)"]
    for i, s in enumerate(steps[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT ev.user_id, min(ev.ts) AS t{i} FROM ev JOIN s{i-1} "
            f"ON ev.user_id = s{i-1}.user_id AND ev.ts > s{i-1}.t{i-1} "
            f"WHERE ev.event_type = '{s}' GROUP BY 1)")
    return "WITH " + ", ".join(ctes)


def tile_sql(t):
    """DuckDB rendering of a tile spec; the check compares its rows to graft's."""
    base, kind = t["base"], t["kind"]
    if kind == "agg":
        return _agg_select(base, t["groups"], t["measures"], t["filter"])[0]
    if kind == "topn":
        q, names = _agg_select(base, t["groups"], t["measures"], t["filter"])
        return f"{q} ORDER BY {t['measures'][0]} DESC, {names[0]} ASC LIMIT {t['limit']}"
    if kind == "pick":
        frm = SALES_FROM if base == "sales" else EVENTS_FROM
        cols = ", ".join(f"{ATTRS[base][c]} AS {c}" for c in t["cols"])
        keys = ", ".join(t["keys"])
        return (f"SELECT {cols} FROM {frm} WHERE {_where(base, t['filter'])} "
                f"ORDER BY {keys} LIMIT {t['limit']}")
    if kind == "fold":
        parts = t["fold"]
        cnt = [f"count(*) FILTER (WHERE {ATTRS[base][a]} = {_lit(v)}) AS {n}" for n, a, v in parts]
        frm = SALES_FROM if base == "sales" else EVENTS_FROM
        e, g = _group(base, t["groups"][0])
        inner = (f"SELECT {e} AS {g}, {', '.join(cnt)} FROM {frm} "
                 f"WHERE {_where(base, t['filter'])} GROUP BY 1")
        arms = " UNION ALL ".join(f"SELECT {g}, '{n}' AS part, {n} AS n FROM a" for n, _, _ in parts)
        return f"WITH a AS ({inner}) {arms}"
    if kind == "union":
        qa, names = _agg_select(base, t["groups"], t["measures"], t["filter"])
        qb, _ = _agg_select(base, t["groups"], t["measures"], t["filter2"])
        cols = ", ".join(names + t["measures"])
        return (f"SELECT 'a' AS branch, {cols} FROM ({qa}) UNION ALL "
                f"SELECT 'b' AS branch, {cols} FROM ({qb})")
    steps = t["steps"]
    ctes = _steps_ctes(steps, t["filter"])
    if kind == "funnel":
        arms = ["SELECT 'users' AS step, count(DISTINCT user_id) AS entities FROM ev"]
        arms += [f"SELECT '{s}', (SELECT count(*) FROM s{i})" for i, s in enumerate(steps)]
        return f"{ctes} {' UNION ALL '.join(arms)}"
    ts_cols = ", ".join(f"s{i}.t{i} AS {s}_ts" for i, s in enumerate(steps))
    last = " ".join(f"WHEN s{i}.t{i} IS NOT NULL THEN {i}" for i in reversed(range(len(steps))))
    joins = " ".join(f"LEFT JOIN s{i} USING (user_id)" for i in range(len(steps)))
    return (f"{ctes} SELECT u.user_id, {ts_cols}, "
            f"CAST(CASE {last} END AS BIGINT) AS last_matched_step_index "
            f"FROM (SELECT DISTINCT user_id FROM ev) u {joins} "
            f"ORDER BY u.user_id LIMIT {t['limit']}")


# --- pipeline_heavy ---------------------------------------------------------

# The closure-heavy SparkEntry rows, by family. The run's op list takes one
# fixed member per family (PANEL); the seed orders the list.
FAMILIES = {
    "dedup": ["q_dedup_clusters", "q_semdedup", "q_dedup_jaccard_exact", "q_substr_spans"],
    "ann": ["q_ann_pq", "q_ann_ivfpq", "q_ann_opq"],
    "lm": ["q_lm_kn5", "q_lm_kn5_persisted", "q_lm_kn_gate", "q_lm_kn5_pruned",
           "q_lm_kn5_delta", "q_lm_sb5"],
    "graph": ["q_pagerank", "q_pagerank_wat", "q_pagerank_links", "q_hits", "q_hits_links"],
    "sample_text": ["q_quantile_sample", "q_tokenizer_compare"],
}
PANEL = {"dedup": "q_dedup_clusters", "ann": "q_ann_opq", "lm": "q_lm_kn5_delta",
         "graph": "q_pagerank_links", "sample_text": "q_tokenizer_compare"}


def pipeline_ops(seed, passes):
    rng = random.Random(f"pipeline_heavy:{seed}")
    ops = []
    for _ in range(passes):
        names = sorted(PANEL.values())
        rng.shuffle(names)
        ops += [{"entry": n} for n in names]
    return ops


# --- artifact_ingest_serve --------------------------------------------------

FIRST_DAY = 11          # days 1..10 of January 2024 form the initial cache
LAST_DAY = 30
FIRST_VECTORS = 800     # vectors 0..799 form the initial index
N_VECTORS = 2000
VECTOR_BATCH = 100
N_USERS = 1500


def _day(d):
    return f"2024-01-{d:02d}"


def _read(rng, kind, nprobe=1):
    """A read of fixed extent at a seeded place: rollups cover 10 days and
    400 users, dense serves 10 days of one user, top-k queries 4 vectors."""
    if kind == "rollup":
        d0 = rng.randint(1, LAST_DAY - 9)
        u0 = rng.randrange(N_USERS - 400)
        return {"kind": "rollup", "d0": _day(d0), "d1": _day(d0 + 9), "u0": u0, "u1": u0 + 399}
    if kind == "dense":
        d0 = rng.randint(1, LAST_DAY - 9)
        return {"kind": "dense", "user": rng.randrange(N_USERS), "d0": _day(d0),
                "d1": _day(d0 + 9)}
    q0 = rng.randrange(N_VECTORS - 4)
    return {"kind": "ivf_query", "q0": q0, "q1": q0 + 4, "k": 10, "nprobe": nprobe}


def artifact_ops(seed, blocks):
    """Blocks of one write and four reads in seeded order: three rollups
    and, in alternate blocks, a dense daily serve or a top-k query. Writes
    alternate metric-cache day appends and index vector appends; one
    takedown of seeded users is the second block's write. Top-k queries
    probe 1, 2, 3 or all cells in rotation (all cells makes the serve
    exact). Rollups, the cheapest and most frequent serve, hold the median
    op, so op_p50_s does not sit between two kinds of op."""
    rng = random.Random(f"artifact_ingest_serve:{seed}")
    days = iter(range(FIRST_DAY, LAST_DAY + 1))
    batches = iter(range(FIRST_VECTORS, N_VECTORS, VECTOR_BATCH))
    probes = [1, 2, 3, 0]
    turn = rng.randrange(len(probes))
    ops = []
    for b in range(blocks):
        if b == 1:
            w = {"kind": "takedown", "users": sorted(rng.sample(range(N_USERS), 15))}
        elif b % 2 == 0:
            w = {"kind": "mc_append", "day": _day(next(days))}
        else:
            lo = next(batches)
            w = {"kind": "ivf_append", "lo": lo, "hi": lo + VECTOR_BATCH}
        last = "dense" if b % 2 == 0 else "ivf_query"
        block = [w] + [_read(rng, k, probes[(turn + b // 2) % len(probes)])
                       for k in ("rollup", "rollup", "rollup", last)]
        rng.shuffle(block)
        ops += block
    return ops


# --- entry ------------------------------------------------------------------

def gen_workload(name, seed):
    """(ops, warm-up, core length, wrap) for a workload at a seed. The core
    list is the fixed op list whose batch time is `wall_s`."""
    if name == "semantic_mix":
        ops = semantic_ops(seed, dashboards=6)
        # warm-up is the same for every seed, so setup_s compares like
        # with like; its tiles never repeat a timed one
        warm = semantic_ops("warm-up", dashboards=2, prefix="w")
        return ops, warm, len(ops), True
    if name == "pipeline_heavy":
        ops = pipeline_ops(seed, passes=3)
        # the untimed setup run of each entry, in a fixed order, so every
        # seed splits the same entries across the setup rounds
        warm = [{"entry": n} for n in sorted(PANEL.values())]
        return ops, warm, len(ops), True
    if name == "artifact_ingest_serve":
        ops = artifact_ops(seed, blocks=24)
        rng = random.Random("warm-up")
        warm = {"first_day": _day(FIRST_DAY), "first_vectors": FIRST_VECTORS,
                "reads": [_read(rng, k) for k in ("rollup", "dense", "ivf_query")]}
        return ops, warm, 60, False
    raise KeyError(name)
