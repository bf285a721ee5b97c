#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload graysort|mapreduce|suite \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine from `src/main`
together with the harness in `perfbench/src` (sbt, offline), makes the
seeded inputs, runs the measured JVM (`graft.perfbench.Main`) at
local[nproc], checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. Build state, inputs and logs live under `.bench_build/perfbench`
in the checkout; a traced run leaves its spans in `trace.json` there.
See perfbench/README.md for the metrics and what each should respond to.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = len(os.sched_getaffinity(0))
SF_DIR = os.path.join(BENCH, "data", "sf0.01")
# the seed that reads the shipped corpus unchanged
DEFAULT_SEED = 0

# Per-workload sizes and limits. graysort's 100 MB, as sort rows, is more
# than the execution memory of its 512 MB heap, so every sort spills
# (phase 3); mapreduce fits in memory at its heap. The deadline bounds the
# timed loop; a failed op is charged limit_s on top of its own time.
WORKLOADS = {
    "graysort": {"records": 1_000_000, "heap": "512m", "min_ops": 4,
                 "limit_s": 60.0, "deadline_s": 60.0},
    "mapreduce": {"records": 25_000, "heap": "1g", "min_ops": 4, "limit_s": 60.0,
                  "deadline_s": 60.0},
    "suite": {"heap": "2g", "min_ops": 1, "limit_s": 30.0, "deadline_s": 110.0},
}
RUN_BUDGET_S = 170.0

E2E = {"setup_s": "s", "job_s": "s", "input_mb_s": "MB/s", "query_s_p50": "s",
       "query_s_p90": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.construct_s": "s", "catalyst.analyze_s": "s", "catalyst.optimize_s": "s",
    "catalyst.plan_s": "s", "exec.run_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_s": "s", "sched.busy_frac": "ratio", "sched.delay_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.records": "count", "spill.disk_mb": "MB", "spill.mem_mb": "MB",
    "phase.sample_s": "s", "phase.map_s": "s", "phase.reduce_s": "s",
    "sources.in_mb": "MB", "sources.out_mb": "MB", "sources.scan_mb_s": "MB/s",
    "api.records_in": "count", "api.records_out": "count", "api.partition_skew": "ratio",
    "task.skew": "ratio", "jvm.gc_s": "s", "core.release_s": "s", "core.cached_mb": "MB",
    "plans.ingest_s": "s", "self.op_s": "s", "self.construct_s": "s", "self.exec_s": "s",
    "self.job_s": "s", "self.stage_s": "s", "error_rate": "ratio", "trace.job_s": "s",
}


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def run(cmd, cwd, logfile, timeout, env=None):
    with open(logfile, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the distribution whose bin/spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return home
    raise RuntimeError("no Spark distribution found: set SPARK_HOME")


def build():
    """Compile engine + harness with sbt once per source state; returns the classpath."""
    stamp, cpfile = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cpfile) and open(stamp).read() == digest:
        return open(cpfile).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SPARK_HOME"] = spark_home()
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx2g"])
    out = os.path.join(STATE, "build.log")
    if os.path.exists(out):
        os.remove(out)
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
              "export Runtime/fullClasspath"], BENCH, out, 800, env)
    lines = [l.strip() for l in open(out, errors="replace")]
    cp = [l for l in lines if "perfbench" in l and "target" in l and ":" in l and " " not in l]
    if rc != 0 or not cp:
        raise RuntimeError(f"sbt build failed (rc={rc}); see {out}")
    with open(cpfile, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1]


def java(cp, heap, args, work, logfile, timeout):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, *args]
    return run(cmd, work, logfile, timeout)


def derive_corpus(seed, dst):
    """Seed 0 reads the shipped corpus; any other seed keeps ~90% of each
    fact table's rows, chosen by MD5(seed, key), with lineitem following
    its orders. Dimension tables are kept whole."""
    if seed == DEFAULT_SEED:
        return SF_DIR
    import duckdb
    import pyarrow.parquet as pq
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"SET threads={CORES}")
    keys = {"orders": "o_orderkey", "lineitem": "l_orderkey", "events": "user_id",
            "documents": "doc_id", "embeddings": "vec_id"}
    for f in sorted(os.listdir(SF_DIR)):
        src, table = os.path.join(SF_DIR, f), f[:-len(".parquet")]
        if table not in keys:
            shutil.copy(src, os.path.join(dst, f))
            continue
        k = keys[table]
        kept = con.sql(
            f"SELECT * FROM '{src}' WHERE CAST(('0x' || substr(md5('{seed}:' || "
            f"CAST({k} AS VARCHAR)), 1, 8)) AS BIGINT) % 10 <> 0").arrow()
        pq.write_table(kept, os.path.join(dst, f))
    return dst


def check_suite(ops, oracle, corpus, work, logfile):
    """Compare every dumped headline with its DuckDB oracle through
    tools/check.py; a query it does not report [OK] has failed. Returns
    the number of result rows that matched."""
    rows = 0
    for p in sorted({o["pass"] for o in ops}):
        dumped = [o for o in ops if o["pass"] == p and o["ok"]]
        if not dumped:
            continue
        outdir = os.path.dirname(dumped[0]["dump"])
        with open(os.path.join(outdir, "oracle_sql.json"), "w") as f:
            json.dump({o["name"]: oracle[o["name"]] for o in dumped if o["name"] in oracle}, f)
        env = dict(os.environ, DUCKDB_TMP=os.path.join(work, "duckdb_tmp"),
                   DUCKDB_MEM="2GB", DUCKDB_THREADS=str(CORES))
        res = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"), corpus, outdir,
             *[o["name"] for o in dumped]],
            capture_output=True, text=True, env=env, timeout=120)
        with open(logfile, "a") as lf:
            lf.write(res.stdout + res.stderr)
        verdict = {}
        for line in res.stdout.splitlines():
            if line.startswith("["):
                tag, _, rest = line.partition("]")
                name = rest.strip().split(" ")[0].rstrip(":")
                verdict[name] = (tag == "[OK", line.strip())
        for o in dumped:
            if o["name"] not in oracle:
                continue  # no oracle: the query ran; nothing to compare
            ok, line = verdict.get(o["name"], (False, "no verdict from tools/check.py"))
            if ok:
                rows += int(line.split("rows=")[1].split(" ")[0])
            else:
                o["ok"], o["error"] = False, f"wrong output: {line}"
    return rows


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala; run from a checkout root")
    cfg = WORKLOADS[a.workload]
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    t_start = time.time()  # the build is not part of a run's time budget

    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    logfile = os.path.join(STATE, f"{a.workload}.log")
    open(logfile, "w").close()

    # ---- seeded inputs, made before any timing
    if a.workload in ("graysort", "mapreduce"):
        inp = os.path.join(work, f"{a.workload}_in")
        if java(cp, "1g", ["graft.perfbench.Gen", a.workload, str(a.seed), str(cfg["records"]),
                           inp, str(CORES)], work, logfile, 120) != 0:
            sys.exit(f"perfbench: input generation failed; see {logfile}")
    else:
        inp = derive_corpus(a.seed, os.path.join(work, "corpus"))
    log("inputs ready")

    # ---- the measured run
    out = os.path.join(work, "result.json")
    rc = java(cp, cfg["heap"], [
        "graft.perfbench.Main", a.workload, str(a.seconds), str(cfg["min_ops"]), str(a.trace),
        str(CORES), str(cfg["limit_s"]), str(cfg["deadline_s"]), work, inp, out],
        work, logfile, RUN_BUDGET_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: measured run failed (rc={rc}); see {logfile}")
    log("measured run done")
    shutil.copy(out, os.path.join(STATE, f"result-{a.workload}-{a.seed}.json"))
    r = json.load(open(out))
    ops = r["ops"]
    if a.workload == "suite":
        r["layers"]["api.records_out"] = check_suite(ops, r["oracle"], inp, work, logfile) / r["passes"]
        log("oracle compare done")

    # ---- metrics; a failed op is charged the limit on top of its own time
    limit = r["limit_s"]
    charged = [o["wall_s"] if o["ok"] else limit + o["wall_s"] for o in ops]
    jobs = [sum(c for c, o in zip(charged, ops) if o["pass"] == p)
            for p in sorted({o["pass"] for o in ops})]
    job_s = statistics.median(jobs)
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        log(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}")
    if a.trace == 0:
        metrics = {
            "setup_s": r["setup_s"],
            "job_s": job_s,
            "input_mb_s": r["input_bytes"] / 1e6 / job_s,
            "query_s_p50": quantile(charged, 0.5),
            "query_s_p90": quantile(charged, 0.9),
            "peak_rss_mb": r["peak_rss_mb"],
        }
    else:
        layers = dict(r["layers"])
        layers["error_rate"] = len(failed) / len(ops)
        layers["trace.job_s"] = job_s
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
        trace = os.path.join(work, "trace.json")
        if os.path.exists(trace):
            shutil.copy(trace, os.path.join(STATE, f"trace-{a.workload}-{a.seed}.json"))
    if a.workload != "suite":
        log("op seconds: " + " ".join("%.3f" % o["wall_s"] for o in ops))
    log(f"{a.workload} seed={a.seed}: {len(ops)} ops in {len(jobs)} job(s), "
        f"{len(failed)} failed; setup {r['setup_s']:.3f} s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not any((o["error"] or "").startswith("wrong output") for o in failed),
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": (PER_LAYER if a.trace else E2E)[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
