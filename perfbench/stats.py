"""Turns a harness run record into end-to-end and per-layer metrics.

End-to-end metrics come from the timed ops of an untraced run. Per-layer
metrics come from a traced run's spans, listener jobs and query phases;
unless a name says otherwise they are means per timed op, so a layer a
workload does not use reads 0.
"""
import math
import statistics

STALL_MIN_WALL_S = 1.0  # graft.Bench's stall signature: wall > 1 s, CPU < wall / 2
TAIL_SAMPLES = 10       # a reported tail percentile has at least this many samples beyond it
WRITES = {"mc_append", "ivf_append", "takedown"}  # artifact_ingest_serve's write ops


def unit(name):
    """Unit of a metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms") or last == "ms":
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if "bytes" in last:
        return "bytes"
    if last.endswith(("_frac", "_min", "_ratio")):
        return "ratio"
    if last == "busy_cores":
        return "cores"
    return "count"


def percentile(values, p):
    """Nearest-rank p-th percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail_percentile(values, ladder=(99, 95, 90, 75)):
    """The highest percentile of `ladder` with at least TAIL_SAMPLES samples
    strictly beyond its nearest rank, as (p, value); None if none has."""
    n = len(values)
    for p in ladder:
        if n - math.ceil(p / 100 * n) >= TAIL_SAMPLES:
            return p, percentile(values, p)
    return None


def op_medians(records, core):
    """Median wall of each of the first `core` distinct ops of `records`."""
    walls = {}
    for r in records:
        walls.setdefault(r["idx"], []).append(r["wall_s"])
    order = list(dict.fromkeys(r["idx"] for r in records))[:core]
    return [statistics.median(walls[i]) for i in order]


def batch_wall(records, core):
    """Batch time of the fixed op list: its ops each at their median."""
    return sum(op_medians(records, core))


def phase(run, name):
    return [r for r in run["ops"] if r["phase"] == name]


def stalled(r):
    return r["wall_s"] > STALL_MIN_WALL_S and r["cpu_s"] < r["wall_s"] / 2


def end_to_end(run, core):
    timed = phase(run, "timed")
    return {
        "setup_s": statistics.median(run["setup_rounds_s"]),
        "wall_s": batch_wall(timed, core),
        "op_p50_s": statistics.median(op_medians(timed, core)),
    }


def workload_extras(run, ops, failed, attempted):
    """The workload-specific end-to-end figures of the run record."""
    timed = phase(run, "timed")
    out = {"failed_frac": failed / attempted}
    walls = [r["wall_s"] for r in timed]
    t = tail_percentile(walls)
    if t:
        out[f"op_p{t[0]}_s"] = t[1]
    if "artifact" in run:
        reads = [r["wall_s"] for r in timed if ops[r["idx"]]["kind"] not in WRITES]
        writes = [r["wall_s"] for r in timed if ops[r["idx"]]["kind"] in WRITES]
        out["read_p50_s"] = statistics.median(reads)
        t = tail_percentile(reads)
        if t:
            out[f"read_p{t[0]}_s"] = t[1]
        out["write_p50_s"] = statistics.median(writes)
    return out


# --- per-layer ---------------------------------------------------------------

def union_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    xs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


LAYER_SPANS = ["model.build", "wire.encode", "wire.decode", "compile", "llm.closure",
               "exec", "sources.write", "sources.read", "cache.release"]
EXEC_SPANS = {"exec", "sources.write", "sources.read"}


def per_layer(run, core, untraced_wall):
    """Per-layer metrics of a traced run; `untraced_wall` is the wall_s of
    an untraced run of the same workload, the base of the tracing overhead."""
    timed = phase(run, "timed")
    seqs = {r["seq"] for r in timed}
    n = max(1, len(timed))
    spans = [dict(zip(("op", "name", "t0", "t1"), s)) for s in run["spans"] if s[0] in seqs]
    layer = [s for s in spans if s["name"] in LAYER_SPANS]
    jobs = [dict(zip(("id", "start", "end", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                      "input", "sw", "sr", "spill"), j)) for j in run["jobs"]]
    qes = [dict(zip(("o0", "o1", "p0", "p1", "ex", "nodes", "files", "bytes"), q))
           for q in run["qes"]]

    def owner(t):
        for s in layer:
            if s["t0"] <= t <= s["t1"]:
                return s
        return None

    by_span = {}
    for j in jobs:
        s = owner(j["start"])
        if s is not None:
            by_span.setdefault(id(s), []).append(j)
    q_by_span = {}
    for q in qes:
        s = owner(q["o0"] if q["o0"] >= 0 else q["p0"])
        if s is not None:
            q_by_span.setdefault(id(s), []).append(q)

    def spans_of(names):
        return [s for s in layer if s["name"] in names]

    def ms(names):
        return sum(s["t1"] - s["t0"] for s in spans_of(names))

    def js(names):
        return [j for s in spans_of(names) for j in by_span.get(id(s), [])]

    def qs(names):
        return [q for s in spans_of(names) for q in q_by_span.get(id(s), [])]

    def driver_only(names):
        total = 0.0
        for s in spans_of(names):
            iv = [(j["start"], j["end"] if j["end"] >= 0 else s["t1"]) for j in by_span.get(id(s), [])]
            total += (s["t1"] - s["t0"]) - union_ms(iv, s["t0"], s["t1"])
        return total

    def counter(name):
        return sum(v for o, c, v in run["counters"] if c == name and o in seqs)

    def jsum(names, k):
        return sum(j[k] for j in js(names))

    exec_q = qs(EXEC_SPANS)
    cat_opt = sum(q["o1"] - q["o0"] for q in exec_q if q["o0"] >= 0)
    cat_plan = sum(q["p1"] - q["p0"] for q in exec_q if q["p0"] >= 0)
    exec_ms = ms(EXEC_SPANS)
    m = {
        "wire.encode_ms": ms({"wire.encode"}) / n,
        "wire.decode_ms": ms({"wire.decode"}) / n,
        "wire.json_bytes": counter("wire.json_bytes") / n,
        "model.build_ms": ms({"model.build"}) / n,
        "compile.ms": ms({"compile"}) / n,
        "compile.jobs": len(js({"compile"})) / n,
        "compile.driver_only_ms": driver_only({"compile"}) / n,
        "llm.closure_ms": ms({"llm.closure"}) / n,
        "llm.closure_jobs": len(js({"llm.closure"})) / n,
        "llm.closure_driver_only_ms": driver_only({"llm.closure"}) / n,
        "llm.closure_task_ms": jsum({"llm.closure"}, "run_ms") / n,
        "catalyst.optimize_ms": cat_opt / n,
        "catalyst.plan_ms": cat_plan / n,
        "catalyst.exchanges": sum(q["ex"] for q in exec_q) / n,
        "catalyst.plan_nodes": sum(q["nodes"] for q in exec_q) / n,
        "exec.ms": (exec_ms - cat_opt - cat_plan) / n,
        "exec.jobs": len(js(EXEC_SPANS)) / n,
        "exec.stages": jsum(EXEC_SPANS, "stages") / n,
        "exec.tasks": jsum(EXEC_SPANS, "tasks") / n,
        "exec.task_run_ms": jsum(EXEC_SPANS, "run_ms") / n,
        "exec.task_cpu_ms": jsum(EXEC_SPANS, "cpu_ms") / n,
        "exec.gc_ms": jsum(EXEC_SPANS, "gc_ms") / n,
        "exec.driver_only_ms": driver_only(EXEC_SPANS) / n,
        "exec.busy_cores": jsum(EXEC_SPANS, "run_ms") / exec_ms if exec_ms else 0.0,
        "exec.input_bytes": jsum(EXEC_SPANS, "input") / n,
        "exec.shuffle_write_bytes": jsum(EXEC_SPANS, "sw") / n,
        "exec.shuffle_read_bytes": jsum(EXEC_SPANS, "sr") / n,
        "exec.spill_bytes": jsum(EXEC_SPANS, "spill") / n,
        "sources.write_ms": ms({"sources.write"}) / n,
        "sources.write_jobs": len(js({"sources.write"})) / n,
        "sources.bytes_written": counter("sources.bytes_written") / n,
        "sources.files_written": counter("sources.files_written") / n,
        "sources.read_ms": ms({"sources.read"}) / n,
        "sources.files_read": sum(q["files"] for q in qs({"sources.read"})) / n,
        "sources.read_bytes": sum(q["bytes"] for q in qs({"sources.read"})) / n,
        "cache.blocks_stored": counter("cache.blocks_stored") / n,
        "cache.bytes_stored": counter("cache.bytes_stored") / n,
        "cache.release_ms": ms({"cache.release"}) / n,
        "fixtures.built_setup": run["fixtures"]["built_setup"],
        "fixtures.built_timed": run["fixtures"]["built_timed"],
        "jvm.cpu_s": run["jvm"]["cpu_s"] / n,
        "jvm.gc_ms": run["jvm"]["gc_ms"] / n,
        "jvm.jit_ms": run["jit_ms_setup"],
        "jvm.heap_peak_mb": run["jvm"]["heap_peak_mb"],
        "trace.overhead_frac": batch_wall(timed, core) / untraced_wall - 1,
        "trace.span_coverage_min": span_coverage(spans),
    }
    return m


def span_coverage(spans):
    """Smallest share of an op's wall that its layer spans cover."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    worst = 1.0
    for ss in by_op.values():
        op = [s for s in ss if s["name"] == "op"]
        if not op:
            continue
        o = op[0]
        if o["t1"] <= o["t0"]:
            continue
        kids = [(s["t0"], s["t1"]) for s in ss if s["name"] in LAYER_SPANS]
        worst = min(worst, union_ms(kids, o["t0"], o["t1"]) / (o["t1"] - o["t0"]))
    return worst
