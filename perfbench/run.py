#!/usr/bin/env python3
"""graft benchmark: one workload at one seed, one JSON result line.

    python3 perfbench/run.py --workload semantic_mix --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(perfbench/harness, which compiles graft's sources from src/) with sbt;
later runs reuse the build while the sources are unchanged. Everything a
run writes goes under .bench_build/ in the checkout. The data is the
read-only sf0.1 table set: $PERFBENCH_SF_DIR, else
the sf0.1 directory TESTDATA.md lists.

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Lines before it, starting with "#", name the workload-specific figures,
failures and validity flags; the full run record is written to
.bench_build/perfbench/last_<workload>.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("semantic_mix", "pipeline_heavy", "artifact_ingest_serve")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170
SETUP_ROUNDS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for base in (GRAFT_SRC, HARNESS):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def classpath(deadline):
    """The harness classpath, building it with sbt when the sources changed."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=max(60, deadline - time.time()))
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ":" in ln]
    if p.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(p.stdout)
        fail(f"harness build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_harness(cp, cfg, work, deadline):
    cfg_path, out = os.path.join(work, "config.json"), os.path.join(work, "out")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{heap()}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.fixtures={cfg['fixtures_dir']}", f"-Dperfbench.tmp={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", cfg_path, out]
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness timed out")
    run_json = os.path.join(out, "run.json")
    if p.returncode != 0 or not os.path.exists(run_json):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(f"harness failed (exit {p.returncode}):\n{tail}")
    with open(run_json) as f:
        return json.load(f), os.path.join(out, "results")


def input_bytes(con, sf_dir, ops, records, warm):
    """Parquet bytes of the event days and vectors the run ingested."""
    ev = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    em = os.path.getsize(os.path.join(sf_dir, "embeddings.parquet"))
    n_ev = con.execute("SELECT count(*) FROM events").fetchone()[0]
    days = [gen._day(d) for d in range(1, gen.FIRST_DAY)]
    n_vec = warm["first_vectors"]
    for r in records:
        op = ops[r["idx"]]
        if "error" in r:
            continue
        if op["kind"] == "mc_append":
            days.append(op["day"])
        elif op["kind"] == "ivf_append":
            n_vec += op["hi"] - op["lo"]
    rows = con.execute(f"SELECT count(*) FROM events WHERE {check.day_in('ts', days)}").fetchone()[0]
    return ev * rows / n_ev + em * n_vec / gen.N_VECTORS


def history_path():
    return os.path.join(BUILD, "history.json")


def load_history():
    try:
        with open(history_path()) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def untraced_base(workload, seed):
    """wall_s of earlier untraced runs of `workload` in this checkout: the
    median of those at `seed`, else of all; None if there are none."""
    runs = [h for h in load_history() if h["workload"] == workload]
    same = [h["wall_s"] for h in runs if h["seed"] == seed]
    walls = same or [h["wall_s"] for h in runs]
    return statistics.median(walls) if walls else None


def record_history(workload, seed, wall):
    h = load_history()[-199:] + [{"workload": workload, "seed": seed, "wall_s": wall}]
    with open(history_path(), "w") as f:
        json.dump(h, f)


def data_dir():
    """$PERFBENCH_SF_DIR, else the sf0.1 directory TESTDATA.md lists."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*/sf0\.1)/?`", f.read())
    except OSError:
        m = None
    if m is None:
        fail("no data: set PERFBENCH_SF_DIR or list the sf0.1 directory in TESTDATA.md")
    return m.group(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(GRAFT_SRC):
        fail(f"no graft sources at {GRAFT_SRC}; run from a graft checkout")
    sf_dir = data_dir()
    if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
        fail(f"no data at {sf_dir}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    cp = classpath(time.time() + 900)
    deadline = max(deadline, time.time() + DEADLINE_S - 20)

    ops, warm, core, wrap = gen.gen_workload(a.workload, a.seed)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
               "sf_dir": sf_dir, "work_dir": work, "cpus": len(os.sched_getaffinity(0)),
               "fixtures_dir": os.path.join(BUILD, "fixtures"),
               "setup_rounds": SETUP_ROUNDS,
               "reference_pass": bool(a.trace) and untraced_base(a.workload, a.seed) is None,
               "ops": ops, "warmup": warm, "core": core, "wrap": wrap}
        run, results = run_harness(cp, cfg, work, deadline)
        report(a, run, results, ops, warm, core, sf_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, run, results, ops, warm, core, sf_dir):
    timed = stats.phase(run, "timed")
    con = check.connect(sf_dir)
    if a.workload == "semantic_mix":
        verdict = check.check_semantic(con, [ops[r["idx"]] for r in timed], results)
        key = lambda r: ops[r["idx"]]["id"]  # noqa: E731
    elif a.workload == "pipeline_heavy":
        verdict = check.check_pipeline(con, ops, results,
                                       os.path.join(BUILD, "oracle_cache",
                                                    hashlib.sha256(sf_dir.encode()).hexdigest()[:16]))
        key = lambda r: ops[r["idx"]]["entry"]  # noqa: E731
    else:
        verdict = check.check_artifact(con, ops, run["ops"], results, run["artifact"]["cells"])
        key = lambda r: f"op{r['seq']}"  # noqa: E731
    failures = {}
    for r in timed:
        why = r.get("error") or verdict.get(key(r))
        if why:
            failures.setdefault(key(r), why)
            r["failed"] = why
    failed = sum(1 for r in timed if "failed" in r)
    attempted = len(timed)

    e2e = stats.end_to_end(run, core)
    extras = stats.workload_extras(run, ops, failed, attempted)
    if a.workload == "artifact_ingest_serve":
        extras["stored_bytes_ratio"] = (run["artifact"]["stored_bytes"]
                                        / input_bytes(con, sf_dir, ops, run["ops"], warm))
    invalid = [f"op {r['seq']} stalled: wall {r['wall_s']:.3f} s, cpu {r['cpu_s']:.3f} s"
               for r in timed if stats.stalled(r)]
    if run["fixtures"]["built_timed"]:
        invalid.append(f"{run['fixtures']['built_timed']} fixture(s) built in the timed region")

    if a.trace:
        base = (untraced_base(a.workload, a.seed)
                or stats.batch_wall(stats.phase(run, "reference"), core))
        metrics = stats.per_layer(run, core, base)
    else:
        metrics = e2e
        record_history(a.workload, a.seed, e2e["wall_s"])
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "end_to_end": e2e, "extras": extras, "failures": failures,
              "invalid": invalid, "fixtures": run["fixtures"],
              "setup_rounds_s": run["setup_rounds_s"], "metrics": metrics}
    with open(os.path.join(BUILD, f"last_{a.workload}.json"), "w") as f:
        json.dump(dict(record, run=run), f)
    for k, v in extras.items():
        print(f"# {k} {v:.6g} {'ratio' if k.endswith(('frac', 'ratio')) else 's'}")
    print(f"# fixtures {'warm' if run['fixtures']['warm_at_start'] else 'cold'} at start, "
          f"built in setup {run['fixtures']['built_setup']}, timed {run['fixtures']['built_timed']}")
    for k, v in failures.items():
        print(f"# failed {k}: {v[:300]}")
    for msg in invalid:
        print(f"# run invalid: {msg}")
        print(f"perfbench: run invalid: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": stats.unit(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
