#!/usr/bin/env python3
"""End-to-end benchmark of the graft ingest engine and its catalog queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library
(src/main/scala) and the benchmark's JVM side (perfbench/src) with scalac
against the Spark jars into .bench_build/ (or $CARGO_TARGET_DIR); later runs
reuse the classes while the sources are unchanged. Each run generates its
inputs from --seed into its own directory under .perfbench_runs/, drives
the library in one JVM, checks every output, deletes the directory and
prints one JSON line last on stdout. --trace 1 runs the workload twice,
untraced and then traced, prints the per-layer metrics and writes a
layer report to stderr. Exit code 0 only when every check passed.

--corrupt rewrites one stage row before the last check, which must then
fail (see selftest.py).
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
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

BUDGET_S = 165          # every run must end well inside the 180 s limit
MIN_FREE_BYTES = 2 << 30
JVM_HEAP = "2g"
# five of the eight iterative queries: hits, sssp and kcore repeat the
# pagerank/ktruss round pattern and did not fit the per-run time budget
LOOP_QUERIES = ["q_graph_ktruss", "q_graph_betweenness", "q_graph_pagerank", "q_graph_walks",
                "q_dedup_lsh_tuning"]
CATALOG_INPUTS = ["lineitem", "orders", "part", "supplier", "documents"]
MAX_DAYS = 10
E2E_ROUND = {"ingest_daily": "day_s", "catalog_loops": "pass_s"}
DAILY_SCALE = 0.2
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# per-layer metric -> (end-to-end metric it should move, workload)
LAYER_TARGETS = {
    "orchestrator.slot_busy": ("day_s", "ingest_daily"),
    "orchestrator.driver_s": ("day_s", "ingest_daily"),
    "orchestrator.queue_wait_s": ("table_s_p50", "ingest_daily"),
    "orchestrator.self_s": ("day_s", "ingest_daily"),
    "sources.read_s": ("table_s_p50", "ingest_daily"),
    "sources.scan_task_s": ("bootstrap_s", "ingest_daily"),
    "sources.raw_bytes": ("write_amp", "ingest_daily"),
    "sources.raw_rows": ("write_amp", "ingest_daily"),
    "dsl.compile_s": ("day_s", "ingest_daily"),
    "dsl.columns": ("day_s", "ingest_daily"),
    "transform.plan_s": ("day_s", "ingest_daily"),
    "transform.self_s": ("day_s", "ingest_daily"),
    "transform.quarantined": ("-", "ingest_daily"),
    "transform.dedup_dropped": ("-", "ingest_daily"),
    "write.s": ("day_s", "ingest_daily"),
    "write.task_s": ("day_s", "ingest_daily"),
    "write.jobs": ("day_s", "ingest_daily"),
    "write.shuffle_bytes": ("day_s", "ingest_daily"),
    "write.partitions_touched_ratio": ("day_s", "ingest_daily"),
    "write.s_last_over_first": ("day_s", "ingest_daily"),
    "write.bytes_out": ("write_amp", "ingest_daily"),
    "write.files_out": ("write_amp", "ingest_daily"),
    "catalog.register_s": ("day_s", "ingest_daily"),
    "catalog.analyze_s": ("day_s", "ingest_daily"),
    "catalog.executions": ("day_s", "ingest_daily"),
    "query.build_s": ("query_s_p50", "catalog_loops"),
    "query.exec_s": ("query_s_p50", "catalog_loops"),
    "query.jobs": ("pass_s", "catalog_loops"),
    "query.tasks": ("pass_s", "catalog_loops"),
    "query.slot_busy": ("pass_s", "catalog_loops"),
    "query.cached_bytes": ("pass_s", "catalog_loops"),
    "ops.graph_s": ("pass_s", "catalog_loops"),
    "ops.similarity_s": ("pass_s", "catalog_loops"),
    **{f"write.route.{r}": ("day_s", "ingest_daily") for r in
       ["overwrite", "merge", "merge-pruned", "window-merge", "window-merge-pruned"]},
}
LINE_LIMIT = 1900


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


START = [time.monotonic()]


def elapsed():
    """Seconds since the build finished (a first build may take longer)."""
    return time.monotonic() - START[0]


# ------------------------------------------------------------------ build

def scala_sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(lib):
        fail(f"library sources not found at {lib}: run from a repository checkout")
    files = []
    for base in (lib, bench):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else those of the spark-submit on
    the PATH, else the directory build.sbt declares as unmanagedBase."""
    found = []
    if os.environ.get("SPARK_HOME"):
        found.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        found.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            found.append(m.group(1))
    for jars in found:
        if os.path.isdir(jars):
            return jars
    fail("Spark jars not found: set SPARK_HOME")


def build(jars):
    """Compile library + benchmark with scalac unless the classes match the
    sources already. Returns the classes directory."""
    files = scala_sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(files)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ---------------------------------------------------------------- inputs

def write_props(run, props):
    with open(os.path.join(run, "bench.properties"), "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")


def generate(workload, run, seed):
    import gen
    anchor = datetime.now(ZoneInfo("America/Lima")).date()
    props = {"project": gen.PROJECT, "graft_now": gen.GRAFT_NOW}
    if workload == "catalog_loops":
        gen.gen_catalog(os.path.join(run, "data"), seed)
        props.update(inputs=",".join(CATALOG_INPUTS), queries=",".join(LOOP_QUERIES))
        return props, None, anchor
    info = gen.gen_daily(run, seed, anchor, MAX_DAYS, DAILY_SCALE)
    props["stage_db"] = gen.STAGE_DB
    log(f"Lima date {anchor}; transactional-window cutoffs " + ", ".join(
        f"{t.name} {gen.cutoff_for(anchor, t.delay)}" for t in info["tables"] if t.ttype == "t"))
    props["days"] = ",".join((anchor + timedelta(days=d)).isoformat() for d in range(MAX_DAYS))
    props["raw_bytes"] = ",".join(str(b) for b in info["raw_bytes"])
    props["raw_rows"] = ",".join(str(b) for b in info["raw_rows"])
    return props, info, anchor


# ------------------------------------------------------------------- JVM

def run_jvm(classes, jars, run, workload, seconds, traced, corrupt):
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}"] + opens +
           ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run}", "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--dir", run, "--workload", workload, "--seconds", str(seconds),
            "--trace", "1" if traced else "0", "--cores", str(os.cpu_count() or 1)])
    if corrupt:
        cmd += ["--corrupt", "1"]
    result = os.path.join(run, "result.json")
    if os.path.exists(result):
        os.remove(result)
    with open(os.path.join(run, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, BUDGET_S - elapsed() - 15))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("JVM run exceeded its time budget", 3)
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"JVM run failed (rc={p.returncode}):\n{tail}", 3)
    with open(result) as f:
        return json.load(f)


def reset_outputs(run):
    for d in ("stage", "spark-warehouse", "qout", "tmp", "metastore_db"):
        shutil.rmtree(os.path.join(run, d), ignore_errors=True)


# ---------------------------------------------------------------- checks

def check_ingest(res, info, anchor):
    """Each table-day's stage hash and status against the model; returns
    the list of failures."""
    bad = []
    for c in res["checks"]:
        d = c["day"]
        want = info["expected"][d]
        for table, got in c["tables"].items():
            if list(got) != list(want[table]):
                bad.append(f"day {d} {table}: stage {got} != expected {want[table]}")
            status, quarantined, reason = c["status"].get(table, ["MISSING", [], ""])
            w_status, w_quarantined = info["statuses"][table]
            if status != w_status or list(quarantined) != w_quarantined:
                bad.append(f"day {d} {table}: status {status} {quarantined} {reason} "
                           f"!= expected {w_status} {w_quarantined}")
    if any(x != anchor.isoformat() for x in res.get("lima_dates", [])):
        bad.append(f"the Lima date moved during the run: {res['lima_dates']}")
    return bad


def norm(df):
    """Columns by name, rows by value: the tools/check_oracle.py compare."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_catalog(res, run):
    import duckdb
    bad = [f"query {k} failed: {v}" for k, v in res.get("errors", {}).items()]
    with open(os.path.join(run, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(run, 'tmp', 'duckdb')}'")
    for t in CATALOG_INPUTS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run}/data/{t}.parquet'")
    for name in LOOP_QUERIES:
        pdir = os.path.join(run, "qout", name)
        if name not in oracles:
            bad.append(f"{name}: no oracle SQL")
            continue
        if not os.path.isdir(pdir):
            if not any(k.endswith(":" + name) for k in res.get("errors", {})):
                bad.append(f"{name}: no output")
            continue
        got = norm(con.execute(f"SELECT * FROM '{pdir}/*.parquet'").fetchdf())
        want = norm(con.execute(oracles[name]).fetchdf())
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad.append(f"{name}: shape {list(got.columns)}x{len(got)} != "
                       f"{list(want.columns)}x{len(want)}")
        elif not got.astype(str).equals(want.astype(str)):
            bad.append(f"{name}: values differ from the oracle")
    con.close()
    return bad


# ---------------------------------------------------------------- report

def self_medians(res):
    """Median self seconds per layer over the warm rounds."""
    warm = [r["self"] for r in res["rounds"][1:]]
    layers = sorted({k for r in warm for k in r})
    return {k: statistics.median(r.get(k, 0.0) for r in warm) for k in layers}


def report(workload, untraced, traced):
    key = E2E_ROUND[workload]
    base, timed = untraced["e2e"][key], traced["e2e"][key]
    selfs = self_medians(traced)
    total = sum(selfs.values())
    lines = [f"== {workload}: layer self time per warm round (median), traced",
             f"   untraced {key} {base:.3f} s | traced {timed:.3f} s | "
             f"tracing overhead {timed - base:+.3f} s | layer self sum {total:.3f} s"]
    for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        lines.append(f"   {k:<22} {v:8.3f} s  {100 * v / max(total, 1e-9):5.1f}%")
    lines.append("   per-layer metric -> end-to-end metric it should move")
    for k, v in traced["layer"].items():
        target, where = LAYER_TARGETS.get(k, ("every workload", ""))
        if where in ("", workload):
            e2e = traced["e2e"].get(target)
            moved = f"{target} = {e2e:.4g}" if isinstance(e2e, (int, float)) else target
            lines.append(f"   {k:<32} {v:>14.6g}  -> {moved}")
    return "\n".join(lines), {"trace.overhead_s": timed - base, "trace.self_sum_s": total}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the repository root")
    with open(bench_file) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    jars = spark_jars()
    classes = build(jars)
    START[0] = time.monotonic()
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free >> 20} MB free under {ROOT}; need {MIN_FREE_BYTES >> 20} MB")

    run = os.path.join(ROOT, ".perfbench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    try:
        props, info, anchor = generate(a.workload, run, a.seed)
        write_props(run, props)
        runs = [False, True] if a.trace else [False]
        results, bad = [], []
        for traced in runs:
            reset_outputs(run)
            res = run_jvm(classes, jars, run, a.workload, a.seconds, traced, a.corrupt)
            bad += (check_catalog(res, run) if a.workload == "catalog_loops"
                    else check_ingest(res, info, anchor))
            results.append(res)
    finally:
        shutil.rmtree(run, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run))
        except OSError:
            pass

    for b in bad:
        log("CHECK FAILED: " + b)
    attempted = sum(r["attempted"] for r in results)
    failed = min(attempted, len(bad))
    if a.trace:
        text, extra = report(a.workload, results[0], results[1])
        print(text, file=sys.stderr, flush=True)
        # a layer that does not run in this workload reports 0
        values = dict(results[1]["layer"], **extra)
        metrics = {m["name"]: {"value": float(f"{values.get(m['name'], 0.0):.6g}"),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = results[0]["e2e"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    line = json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                       "metrics": metrics}, separators=(",", ":"))
    if len(line) > LINE_LIMIT:
        fail(f"result line is {len(line)} chars, over the {LINE_LIMIT}-char limit")
    print(line, flush=True)
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
