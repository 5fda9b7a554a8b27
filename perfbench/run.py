#!/usr/bin/env python3
"""Layered benchmark of the bigquackspark library.

Run from the repository root:

    python3 perfbench/run.py --workload bq2duck_etl --seed 1 --seconds 5 --trace 0

It builds the library and the harness from source (first run in a
checkout), generates the fixture tables and the 10x replica, precomputes
the DuckDB oracle answers, then runs one workload on `local[4]` in a
closed loop from one driver thread and prints one JSON result line.
`--trace 0` reports the end-to-end metrics; `--trace 1` adds the
bench-owned listener and reports the per-layer metrics. Everything it
writes lives under `.bench_build/perfbench/` in the checkout.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import fixtures  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("bq2duck_etl", "llm_corpus")
ETL_WARMUP = "etl_warmup"
RUN_LIMIT_S = 150
BUILD_LIMIT_S = 600
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, limit_s, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"{cmd[0]} exceeded {limit_s} s")
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd[:3])} failed ({proc.returncode}):\n{err[-3000:]}")
    return out


def source_stamp(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile the library (with the repository's own build) and the
    harness once per source state; returns the runtime classpath and the
    source stamp."""
    stamp_file = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building library and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djna.tmpdir={os.path.join(state, 'jna')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], HERE, BUILD_LIMIT_S, env=env)
    cp = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    # The oracle SQL comes from the library just built.
    stale = os.path.join(state, "oracle_sql.json")
    if os.path.exists(stale):
        os.remove(stale)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp, stamp


def java(cp, state, args, limit_s):
    tmp = os.path.join(state, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(state, 'work', 'local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args
    return run_bounded(cmd, state, limit_s)


def dir_inputs(path):
    """Rows and bytes of a parquet file or directory."""
    import pyarrow.dataset as ds
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, n) for d, _, ns in os.walk(path) for n in ns if n.endswith(".parquet")]
    return {"rows": ds.dataset(path, format="parquet").count_rows(),
            "bytes": sum(os.path.getsize(f) for f in files)}


def prepare(cp, state):
    """Fixtures, the 10x replica and the oracle answers, once per checkout."""
    sf = os.path.join(state, "data", "sf0.1")
    up = os.path.join(state, "data", "up10")
    inputs_file = os.path.join(state, "inputs.json")
    sf_inputs = fixtures.ensure(sf)
    if not os.path.exists(os.path.join(up, "_COMPLETE")):
        log("building the 10x replica (ScaleUp.ensure)")
        java(cp, state, ["prepare", sf, up], BUILD_LIMIT_S)
    if not os.path.exists(inputs_file):
        up_inputs = {t: dir_inputs(os.path.join(up, f"{t}.parquet"))
                     for t in ("lineitem", "orders", "documents")}
        with open(inputs_file, "w") as fh:
            json.dump({"sf0.1": sf_inputs, "up10": up_inputs}, fh)
    oracle_sql = os.path.join(state, "oracle_sql.json")
    if not os.path.exists(oracle_sql):
        java(cp, state, ["oracle-sql", oracle_sql], RUN_LIMIT_S)
    with open(oracle_sql) as fh:
        for gate, sql in json.load(fh).items():
            oracle_answer(state, sf, gate, sql)
    return sf, up, json.load(open(inputs_file))


def local_verify():
    """The repository's canonical row compare (tools/local_verify.py)."""
    path = os.path.join(os.path.dirname(HERE), "tools", "local_verify.py")
    spec = importlib.util.spec_from_file_location("local_verify", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, sys.argv[:1]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def duck_connection(state):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(state, 'duckdb_tmp')}'")
    return con


def duck(state, sf):
    con = duck_connection(state)
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


def canonical(con, sql):
    import datetime
    rows = con.execute(sql).fetchall()
    cols = [c[0] for c in con.description]

    def naive(v):
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v
    c, r = local_verify().canon(cols, [tuple(naive(v) for v in row) for row in rows])
    return {"cols": c, "rows": [list(x) for x in r]}


def oracle_answer(state, sf, gate, sql):
    """DuckDB's canonical answer for one gate, cached per SQL text."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(state, "oracle", f"{gate}-{key}.json")
    if not os.path.exists(path):
        log(f"oracle {gate}")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ans = canonical(duck(state, sf), sql)
        with open(path + ".tmp", "w") as fh:
            json.dump(ans, fh)
        os.replace(path + ".tmp", path)
    with open(path) as fh:
        return json.load(fh)


def check_gates(state, sf, gate_outputs):
    """Oracle compare of every written gate output. Returns failed gates."""
    with open(os.path.join(state, "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)
    con = duck_connection(state)
    bad = {}
    for gate, out_dir in gate_outputs.items():
        want = oracle_answer(state, sf, gate, oracle_sql[gate])
        got = canonical(con, f"SELECT * FROM '{out_dir}/*.parquet'")
        if got != want:
            bad[gate] = f"{len(got['rows'])} rows vs oracle {len(want['rows'])}"
    return bad


def timed_walls(raw):
    """Wall times of the timed operations (all but the ETL warm-up pass)."""
    return [o["wall_s"] for o in raw["ops"] if o["name"] != ETL_WARMUP]


def end_to_end(raw):
    """`pass_p50_s` is the median of whole timed passes, not of corpus
    steps: the steps differ in size, so a median over them follows
    whichever step sits in the middle and misses a change to any other."""
    walls = timed_walls(raw)
    return {
        "setup_s": raw["setup_s"],
        "pass_p50_s": stats.summarize(raw["pass_s"])["p50"],
        "ops_per_s": len(walls) / sum(walls),
    }


def report_lines(workload, raw, failed, attempted):
    """The end-to-end metrics under their workload-specific names."""
    walls = timed_walls(raw)
    s = stats.summarize(walls)
    lines = [("setup_s", raw["setup_s"], "s"),
             ("failed_ratio", failed / attempted, "ratio")]
    if workload == "bq2duck_etl":
        rows = raw["rows_ingested"]
        lines += [("etl_rows_per_s", rows / sum(walls), "rows/s"),
                  ("etl_iter_p50_s", s["p50"], "s")]
    else:
        lines += [("corpus_pass_s", statistics.median(raw["pass_s"]), "s"),
                  ("corpus_gate_p50_s", s["p50"], "s")]
    p90 = f"p90 {s['p90']:.4f} s" if "p90" in s else "no p90 (n < 100)"
    for name, value, unit in lines:
        print(f"{workload} {name} {value:.6g} {unit}")
    print(f"{workload} samples n={s['n']} {p90}")


def history(state, entry=None):
    path = os.path.join(state, "history.jsonl")
    if entry is not None:
        with open(path, "a") as fh:
            fh.write(json.dumps(entry) + "\n")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"not a bigquackspark checkout: {need} missing in {root}")
            return 2
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)

    cp, stamp = build(root, state)
    sf, up, inputs = prepare(cp, state)
    work = os.path.join(state, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_file = os.path.join(state, "raw.json")
    try:
        java(cp, state, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                         sf, up, work, raw_file], RUN_LIMIT_S)
        raw = json.load(open(raw_file))
        bad_gates = check_gates(state, sf, raw["gate_outputs"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_gates)
    for msg in raw["failures"] + [f"{g}: oracle mismatch: {m}" for g, m in bad_gates.items()]:
        log(f"FAILED {msg}")

    e2e = end_to_end(raw)
    history(state, {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                    "build": stamp, "pass_p50_s": e2e["pass_p50_s"]})
    if a.trace:
        layers = dict(raw["layers"])
        # Only untraced runs of this very build: the history outlives
        # rebuilds, and another build's times are not this code's overhead.
        untraced = [h["pass_p50_s"] for h in history(state)
                    if h["workload"] == a.workload and h["trace"] == 0
                    and h.get("build") == stamp]
        layers["trace.pass_p50_s"] = e2e["pass_p50_s"]
        layers["trace.overhead_ratio"] = (
            e2e["pass_p50_s"] / statistics.median(untraced) - 1 if untraced else 0.0)
        wanted = spec["per_layer"]
        values = layers
    else:
        report_lines(a.workload, raw, failed, attempted)
        wanted = spec["end_to_end"]
        values = e2e
    artifact = dict(raw, inputs=inputs, bad_gates=bad_gates, result_metrics=values)
    os.makedirs(os.path.join(state, "artifacts"), exist_ok=True)
    with open(os.path.join(state, "artifacts",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        log(f"metrics not produced: {missing}")
        return 3
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
