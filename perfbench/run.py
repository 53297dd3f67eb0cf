#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/WORKLOADS.md):
    sweep_sf0.1    one registry query per library package at sf0.1
    ingest_stream  seeded batches of sf1 events through bronze, DQ and the
                   silver/gold streams

The first run in a checkout compiles the library and the benchmark with the
Scala compiler shipped in Spark's jars, and generates its inputs with
graft.tools.GenData; both land in .bench_build/ and are reused. Each run
starts one JVM at local[<cores>] with the repository's bounded heap
(SPARK_DRIVER_MEM, at most 8 GiB), measures for --seconds, checks the outputs
in an untimed pass, and prints as its last stdout line
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
JVM_LIMIT_S = 150  # a run must end within 180 s, output check included

WORKLOAD_SF = {"sweep_sf0.1": "0.1", "ingest_stream": "1"}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read_json(path):
    with open(path) as f:
        return json.load(f)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def cores():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The repository's bounded-heap convention: SPARK_DRIVER_MEM, else half
    of physical memory clamped to [2, 8] GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(dest, classpath, sources):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({len(sources)} sources)")


def build():
    """Compile the library, then the benchmark against it, once per source
    state (each output directory is named by a hash of its inputs)."""
    lib, bench = scala_sources(LIB_SRC), scala_sources(BENCH_SRC)
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    h = hashlib.sha256()
    outs = []
    for kind, sources in (("lib", lib), ("bench", bench)):
        for p in sources:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
        out = os.path.join(BUILD, "classes", f"{kind}-{h.hexdigest()[:16]}")
        if not os.path.exists(os.path.join(out, "DONE")):
            t0 = time.time()
            shutil.rmtree(out, ignore_errors=True)
            scalac(out, os.pathsep.join(outs + [jars]), sources)
            open(os.path.join(out, "DONE"), "w").close()
            log(f"built {len(sources)} {kind} sources in {time.time() - t0:.1f} s")
        outs.insert(0, out)
    return os.pathsep.join(outs + [jars])


def java_cmd(classpath, main, args, mem=None):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{mem or driver_mem()}"] + opens +
            ["-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, main] + args)


def expected_rows(sf):
    """GenData's row counts: sf0.1 base sizes scaled by 10·sf."""
    base = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
            "events": 100000, "documents": 5000, "embeddings": 2000}
    return {t: max(1, round(n * float(sf) * 10)) for t, n in base.items()}


def ensure_data(classpath, sf):
    """Generate scale factor `sf` once into the benchmark's cache, check its
    row counts, and return its directory. Generation time is reported on
    stderr, outside setup_s."""
    out = os.path.join(BUILD, "data", f"sf{sf}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    import duckdb
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    r = subprocess.run(java_cmd(classpath, "graft.tools.GenData", [sf, tmp]), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: GenData {sf} failed")
    con = duckdb.connect()
    counts = {t: con.execute(f"SELECT count(*) FROM read_parquet('{tmp}/{t}.parquet')").fetchone()[0]
              for t in list(expected_rows(sf)) + ["lineitem"]}
    bad = {t: (counts[t], n) for t, n in expected_rows(sf).items() if counts[t] != n}
    # lineitem is Poisson(4) lines per order
    if abs(counts["lineitem"] / counts["orders"] - 4.0) > 0.2:
        bad["lineitem"] = (counts["lineitem"], 4 * counts["orders"])
    if bad:
        raise SystemExit(f"perfbench: sf{sf} row counts (got, expected): {bad}")
    os.rename(tmp, out)
    open(os.path.join(out, "DONE"), "w").close()
    size = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    log(f"generated sf{sf} in {time.time() - t0:.1f} s: {size / 1e6:.0f} MB, rows {counts}")
    return out


def check_oracle(data, check):
    """Compare every dumped query with the DuckDB oracle (tools/check.py)."""
    out = os.path.join(check["dir"], "check.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
                    check["dir"], ",".join(check["queries"]), "--json", out],
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    if not os.path.exists(out):
        return {q: "check.py produced no result" for q in check["queries"]}
    res = read_json(out)["queries"]
    fails = {q: f"oracle: {r['err']}" for q, r in res.items() if r["status"] != "pass"}
    fails.update({q: "oracle: not compared" for q in check["queries"] if q not in res})
    return fails


def check_ingest(check):
    """Final-state check of each ingest pass: silver equals a latest-wins
    recompute over the delivered (bronze) rows, gold equals the gold-rollup
    SQL over the same rows."""
    import duckdb
    fails = {}
    for root in check["passes"]:
        con = duckdb.connect()
        name = os.path.basename(root)
        try:
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{root}/bronze/*.parquet')")
            con.execute(f"CREATE VIEW silver AS SELECT * EXCLUDE (_version) "
                        f"FROM read_parquet('{root}/silver/*.parquet')")
            con.execute(f"CREATE VIEW gold AS SELECT event_type, day, n_events, value_cents "
                        f"FROM read_parquet('{root}/gold/*.parquet')")
            latest = ("SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
                      "(PARTITION BY event_id ORDER BY batch_identifier DESC) AS rn "
                      "FROM events) WHERE rn = 1")
            expect_gold = (f"SELECT event_type, day, n_events, value_cents "
                           f"FROM ({check['gold_sql']})")
            for table, want in (("silver", latest), ("gold", expect_gold)):
                n_got = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
                n_want = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
                diff = con.execute(f"SELECT count(*) FROM ((SELECT * FROM {table} EXCEPT ALL {want}) "
                                   f"UNION ALL ({want} EXCEPT ALL SELECT * FROM {table}))").fetchone()[0]
                if n_got != n_want or diff:
                    fails[f"{name}/{table}"] = (f"{table}: {n_got} rows vs {n_want} expected, "
                                                f"{diff} rows differ")
        except Exception as e:  # a missing or unreadable table is a failed check
            fails[f"{name}/check"] = f"{type(e).__name__}: {str(e)[:300]}"
    return fails


def run(workload, seed, seconds, trace):
    classpath = build()
    data = ensure_data(classpath, WORKLOAD_SF[workload])
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(classpath, "graftbench.GraftBench", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", data, "--work", work,
        "--launch-ms", str(launch_ms), "--cores", str(cores())])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {workload} JVM exceeded its time limit (log {jlog.name})")
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: {workload} JVM exited {proc.returncode}")
    res = read_json(result_path)
    failures = dict(res["failures"])
    check = res["check"]
    checked = check_oracle(data, check) if check["kind"] == "oracle" else check_ingest(check)
    for k, v in checked.items():
        failures.setdefault(k, v)
    for k, v in failures.items():
        log(f"FAILED {k}: {v}")
    runs = res["step_runs"]
    # every run of a failed step counts; a failure outside the steps (a
    # restart or a pass-level check) counts once
    failed = sum(runs.get(k, 1) for k in failures)
    attempted = max(1, res["attempted"])
    spec = read_json(os.path.join(ROOT, "BENCHMARK.json"))
    if trace:
        values = dict(res["layers"], failed_frac=failed / attempted)
        names = spec["per_layer"]
    else:
        values = res["end_to_end"]
        names = spec["end_to_end"]
    # a layer the workload does not exercise reads 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    correct = not failures and all(m["value"] is not None for m in metrics.values())
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)), flush=True)


if __name__ == "__main__":
    main()
