#!/usr/bin/env python3
"""One benchmark run of the graft log ETL engine.

    python3 perfbench/run.py --workload etl_day|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark's runner (`perfbench/build.sbt`, offline sbt) into
`perfbench/target`; later runs reuse the build while the sources are
unchanged. The runner (`perfbench.Main`) runs in one JVM on `local[4]`,
sets the workload up, runs whole rounds of its operations for S seconds in
one closed loop, and records every operation. This script then checks what
can only be checked outside the engine (the DuckDB oracle SQL of the
sampled queries), keeps failed operations out of the
metrics, prints each metric with its unit and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Everything the run writes stays under perfbench/.work.
"""
import argparse
import hashlib
import json
import multiprocessing as mp
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TABLES = os.path.join(BENCH, "tables", "sf0.01")
SMALL_TABLES = os.path.join(BENCH, "tables", "sf0.001")
TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ("etl_day", "query_mix")
ORACLE_BUDGET_S = 20
JVM_TIMEOUT_S = 600

JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner once per source state; returns the
    runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")
    if not os.path.isfile(engine):
        fail(f"no engine sources next to the benchmark ({engine} is missing)")
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if "perfbench" in l and ":" in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ checks

def norm(df):
    """tools/check_scale.py's normal form: columns by name, values by repr."""
    df = df[sorted(df.columns)]
    return [tuple(repr(x) for x in row) for row in df.itertuples(index=False)]


def _oracle(sql, tables, q):
    import duckdb
    try:
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        df = con.sql(sql).df()
        q.put(("ok", sorted(df.columns), norm(df)))
    except Exception as e:  # an oracle that fails leaves the query unchecked
        q.put(("err", str(e)[:200], None))


def oracle_result(sql, tables, dump):
    """The oracle's normal form, run in a child process under a time budget.
    Outcomes of oracles that do not read the dump, time-outs included, are
    cached across runs."""
    cacheable = dump not in sql
    key = hashlib.sha256((tables + "\n" + sql).encode()).hexdigest()
    path = os.path.join(WORK, "oracle-cache", key)
    if cacheable and os.path.isfile(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    q = mp.Queue()
    p = mp.Process(target=_oracle, args=(sql, tables, q))
    p.start()
    p.join(ORACLE_BUDGET_S)
    if p.is_alive():
        p.terminate()
        p.join()
        res = ("timeout", f"oracle over {ORACLE_BUDGET_S}s", None)
    else:
        res = q.get() if not q.empty() else ("err", "oracle process died", None)
    if cacheable and res[0] in ("ok", "timeout"):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
    return res


def check_query(con, q, side, tables):
    """None when the query's result in `side`'s dump equals its oracle, else
    (status, reason), status "fail" or an oracle outcome ("timeout", "err")."""
    if q in side["errors"]:
        return ("fail", f"set-up pass failed: {side['errors'][q]}")
    sql = side["oracle_sql"].get(q)
    if sql is None:
        return ("err", "no oracle")
    status, cols, rows = oracle_result(sql, tables, side["dir"])
    if status != "ok":
        return (status, cols)
    got = con.sql(f"SELECT * FROM '{side['dir']}/{q}/*.parquet'").df()
    if sorted(got.columns) != cols or norm(got) != rows:
        return ("fail", f"differs from oracle ({len(got)} rows vs {len(rows)})")
    return None


def check_query_mix(rec):
    """Each sampled query's result, written by the set-up pass, against the
    DuckDB oracle SQL that graft.Verify exports, compared as
    tools/check_scale.py compares; a query whose oracle exceeds the time
    budget on the measured tables is checked on the small ones, if the
    runner wrote its result there (`Main.checkedSmall`). A failing query
    fails all its operations. Returns False when a query could not be
    checked."""
    import duckdb
    con = duckdb.connect()
    verdict, checked = {}, True
    for q in sorted({op["query"] for op in rec["ops"]}):
        v = check_query(con, q, rec["measured"], TABLES)
        if v and v[0] == "timeout":
            v = check_query(con, q, rec["small"], SMALL_TABLES) if q in rec["small"]["oracle_sql"] \
                else ("err", "oracle too slow and no small-table result")
        if v and v[0] != "fail":
            checked = False
            print(f"perfbench: {q} unchecked: {v[1]}", file=sys.stderr)
        verdict[q] = v[1] if v and v[0] == "fail" else None
    dump = rec["measured"]["dir"]
    rec["result_rows"] = {
        q: con.sql(f"SELECT count(*) FROM '{dump}/{q}/*.parquet'").fetchone()[0]
        for q in verdict if os.path.isdir(f"{dump}/{q}")}
    rec["dump_bytes"] = dir_bytes(dump)
    rec["table_bytes"] = dir_bytes(TABLES)
    for op in rec["ops"]:
        why = verdict.get(op["query"])
        if op["ok"] and why:
            op["ok"], op["why"] = False, why
    return checked


# ----------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linearly interpolated quantile, 0 < q < 1."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def metrics(workload, rec, setup_s):
    good = [op for op in rec["ops"] if op["ok"]]
    secs = [op["secs"] for op in good]
    lat = secs
    if workload == "query_mix":
        # one latency per query (its median over the run's passes), so the
        # quantiles do not depend on how many passes fitted into the run
        per_query = {}
        for op in good:
            per_query.setdefault(op["query"], []).append(op["secs"])
        lat = [statistics.median(v) for v in per_query.values()]
    m = {
        "setup_s": setup_s,
        "op_p50_s": quantile(lat, 0.5),
        "op_p90_s": quantile(lat, 0.9),
        "ops_per_s": len(good) / sum(secs),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    if workload == "etl_day":
        m["job_s"] = statistics.median(secs)
        m["lines_per_s"] = sum(op["lines"] for op in good) / sum(secs)
        m["stored_bytes_per_input_byte"] = (
            sum(op["staged_bytes"] for op in good) / sum(op["raw_bytes"] for op in good))
    else:
        # a pass as the sum of its queries' median times, over the queries
        # that passed their check
        m["job_s"] = sum(lat)
        m["lines_per_s"] = sum(rec["result_rows"].get(op["query"], 0) for op in good) / sum(secs)
        m["stored_bytes_per_input_byte"] = rec["dump_bytes"] / rec["table_bytes"]
    return m


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f))
               for p, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    # inputs are cached by seed; other seeds' inputs are dropped
    for s in os.listdir(cache):
        if s != f"seed-{a.seed}":
            shutil.rmtree(os.path.join(cache, s), ignore_errors=True)
    out = os.path.join(run_dir, "record.json")
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", run_dir, "--cache", cache, "--tables", TABLES,
           "--small-tables", SMALL_TABLES, "--out", out]
    launch_ns = time.time_ns()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the engine run did not finish in time")
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the engine run failed (exit {rc})")
    with open(out) as f:
        rec = json.load(f)
    setup_s = (rec["first_op_epoch_ns"] - launch_ns) / 1e9 - rec["gen_s"]

    checked = True
    if a.workload == "query_mix":
        checked = check_query_mix(rec)

    ops = rec["ops"]
    failed = [op for op in ops if not op["ok"]]
    if not any(op["ok"] and op["kind"] in ("ingest", "query") for op in ops):
        fail("no operation passed its check; nothing to measure")
    kinds = sorted({op["kind"] for op in ops})
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace} "
          f"rounds {rec['rounds']}")
    for k in kinds:
        ks = [op for op in ops if op["kind"] == k]
        bad = [op for op in ks if not op["ok"]]
        print(f"  ops {k}: attempted {len(ks)} failed {len(bad)} "
              f"median {statistics.median(op['secs'] for op in ks):.4f} s"
              + (f"  first failure: {bad[0]['why']}" if bad else ""))
    print(f"  ambient job floor (not a metric): {rec['job_floor_s']:.4f} s")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = metrics(a.workload, rec, setup_s)
    if a.trace:
        for m in spec["end_to_end"]:
            print(f"  under tracing, not a result: {m['name']} = {e2e[m['name']]:.6g} {m['unit']}")
        # a layer the workload does not exercise reads 0
        out_metrics = {m["name"]: {"value": rec["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
    else:
        out_metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    for k, v in out_metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    correct = checked and len(failed) < len(ops)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
