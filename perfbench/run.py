#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt compiles ../src/main/scala); later
runs reuse the build while the sources are unchanged. One JVM runs the
workload with local[4]; this script then checks the outputs and prints, as
the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.

Workloads: daily_backfill, query_suite, stream_sync (see README.md).
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
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# the cron job and the stream read sf0.1; the query suite's expected
# results were recorded at sf0.01, the oracle's scale
DATA = {"daily_backfill": os.path.join(HERE, "data", "sf0.1"),
        "stream_sync": os.path.join(HERE, "data", "sf0.1"),
        "query_suite": os.path.join(HERE, "data", "sf0.01"),
        "record_suite": os.path.join(HERE, "data", "sf0.01")}
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
CORES = 4
JVM_TIMEOUT_S = 165

WORKLOADS = ("daily_backfill", "query_suite", "stream_sync")
EXPECTED = os.path.join(HERE, "expected", "query_suite.json")
# query_suite panel: every SparkEntry query whose number is 10 modulo 22,
# a fixed spread over the query modules (10 of the 227 recorded ones)
PANEL_STRIDE, PANEL_OFFSET = 22, 10

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p95_s": "s",
    "throughput_per_s": "1/s",
    "peak_heap_mb": "MB",
}

PER_LAYER = {
    "queries.build_s": "s/op",
    "queries.build_jobs": "count/op",
    "plans.plan_s": "s/op",
    "ops.exec_s": "s/op",
    "ops.jobs": "count/op",
    "ops.stages": "count/op",
    "ops.tasks": "count/op",
    "ops.task_s": "s/op",
    "ops.busy_ratio": "ratio",
    "ops.shuffle_write_bytes": "bytes/op",
    "ops.shuffle_read_bytes": "bytes/op",
    "ops.spill_bytes": "bytes/op",
    "ops.cache_pins": "count/op",
    "ops.cache_leaked": "count/op",
    "sources.bytes_read": "bytes/op",
    "sources.rows_read": "rows/op",
    "jobs.pass_status_s": "s/op",
    "jobs.pass_rt_distinct_s": "s/op",
    "jobs.pass_st_distinct_s": "s/op",
    "sink.write_s": "s/op",
    "sink.rows": "rows/op",
    "sink.files": "files/op",
    "sink.jdbc_upsert_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.rows_per_batch": "rows",
    "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "bytes",
    "streaming.backlog_rows": "rows",
    "streaming.lat_p99_s": "s",
    "gen.late_max_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
    "trace.traced_ops": "count",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the Spark installation: SPARK_HOME, else the
    one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark installation not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a checkout root")
    stamp = os.path.join(TARGET, "perfbench-stamp.txt")
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    fp = source_fingerprint()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false",
         f"-Dperfbench.sparkJars={spark_jars()}", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    cp = [ln.strip() for ln in proc.stdout.splitlines()
          if os.path.join("perfbench", "target") in ln and ".jar" in ln
          and not ln.startswith("[")]
    if not cp:
        die("build produced no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"build took {time.time() - t0:.1f} s")
    return cp[-1]


# ---------------------------------------------------------------- run

def run_jvm(cp, args, work, report, extra=()):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA[args.workload], "--work", work, "--out", report,
            "--cores", str(CORES), *extra]
    log_path = report.replace(".json", ".log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload timed out after {JVM_TIMEOUT_S} s (log: {log_path})", 3)
    if rc != 0 or not os.path.isfile(report):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"workload JVM exited with {rc} (log: {log_path})", 3)
    with open(report) as f:
        return json.load(f)


def write_panel(path):
    """Writes the panel's expected results as `name<TAB>rows<TAB>sha256`."""
    with open(EXPECTED) as f:
        exp = json.load(f)
    with open(path, "w") as f:
        for name, e in sorted(exp.items()):
            if int(re.match(r"q(\d+)", name).group(1)) % PANEL_STRIDE == PANEL_OFFSET:
                f.write(f"{name}\t{e['rows']}\t{e['sha256']}\n")


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------- checks

def backfill_oracle_sql(rep, day, lst, status_type):
    """The oracle twin of one pass for one pair, without its fixture CTE
    (check_backfill builds the fixture tables once)."""
    o = rep["oracle"]
    sql = o["status"] if status_type == "status" else o["distinct"]
    if not sql.startswith(o["fixtures"]):
        raise ValueError("oracle SQL no longer starts with the fixture CTE")
    sql = sql[len(o["fixtures"]):]
    if status_type == "retweetFromDistinctSources":
        # retweets only: no retweet filter inside the highlight join,
        # and the coalesced retweet flag must be true
        for old, new in (("AND h.is_retweet = false\nINNER JOIN", "INNER JOIN"),
                         ("IS NOT NULL, false) = false", "IS NOT NULL, false) = true")):
            if sql.count(old) != 1:
                raise ValueError(f"oracle SQL shape changed: {old!r}")
            sql = sql.replace(old, new)
    for old, new in ((f"DATE '{o['since_date']}'", f"DATE '{day}'"),
                     (f"'{o['list']}'", f"'{lst}'")):
        if old not in sql:
            raise ValueError(f"oracle SQL shape changed: {old!r}")
        sql = sql.replace(old, new)
    return f"""SELECT id, status_id AS twitterId, username, tweet AS text, url,
      json_doc AS json,
      strftime(publication_date, '%Y-%m-%d %H:%M:%S') AS publishedAt,
      strftime(checked_at, '%Y-%m-%d %H:%M:%S') AS checkedAt,
      is_retweet AS isRetweet,
      json_extract_string(json_doc, '$.id_str') AS twitter_id,
      retweets AS totalRetweets, favorites AS totalFavorites
    FROM ({sql}) o"""


def check_backfill(rep):
    """Marks ops whose (day, list) sink partitions differ from the DuckDB
    oracle twins of the three passes."""
    import duckdb
    data = DATA["daily_backfill"]
    con = duckdb.connect()
    for t in ("orders", "lineitem", "nation", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    for t in ("weaving_status", "highlight", "publishers_list",
              "status_popularity", "weaving_user"):
        con.execute(f"CREATE TABLE {t} AS {rep['oracle']['fixtures']}\n"
                    f"SELECT * FROM {t}")
    con.execute(
        "CREATE VIEW sink AS SELECT * FROM read_parquet("
        f"'{rep['sink']}/*/*/*/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)")
    cols = ("id, twitterId, username, text, url, json, publishedAt, "
            "checkedAt, isRetweet, twitter_id, totalRetweets, totalFavorites")
    pairs = sorted({(p["day"], p["list"]) for p in rep["pairs"]})
    norm = lambda rows: sorted(tuple(str(v) for v in r) for r in rows)

    def check_pair(pair):
        """The first difference between a pair's partitions and the oracle."""
        day, lst = pair
        cur = con.cursor()
        try:
            for st in ("status", "retweetFromDistinctSources",
                       "statusFromDistinctSources"):
                try:
                    want = cur.execute(backfill_oracle_sql(rep, day, lst, st)).fetchall()
                    got = cur.execute(
                        f"SELECT {cols} FROM sink WHERE list_id = ? AND "
                        "ingest_date = ? AND status_type = ?",
                        [lst, day, st]).fetchall()
                except Exception as e:  # an oracle that cannot run fails the pair
                    return f"{st}: check error {e}"
                if norm(want) != norm(got):
                    return (f"{st}: sink has {len(got)} rows, "
                            f"oracle {len(want)}, contents differ")
            return None
        finally:
            cur.close()

    # the pairs are independent read-only queries: check them side by side
    with ThreadPoolExecutor(max_workers=CORES) as pool:
        bad = {p: e for p, e in zip(pairs, pool.map(check_pair, pairs)) if e}
    by_op = {p["op"]: (p["day"], p["list"]) for p in rep["pairs"]}
    for op in rep["ops"]:
        key = by_op.get(op["id"])
        if op["ok"] and key in bad:
            op["ok"] = False
            op["error"] = bad[key]
    rep["checked_pairs"] = len(pairs)


# ---------------------------------------------------------------- metrics

def end_to_end(rep):
    ok = [o["wall_s"] for o in rep["ops"] if o["ok"]]
    setup = (rep["launch_s"] + rep["session_s"]
             + statistics.median(rep["setup_reps_s"]) + rep.get("warmup_s", 0.0))
    if rep["workload"] == "stream_sync":
        segs = rep["segments"]
        nom = segs[0]
        p50, p95 = nom["lat_p50_s"], nom["lat_p95_s"]
        # events absorbed per second of micro-batch time at the top rate
        thr = segs[-1]["capacity_per_s"]
    else:
        p50, p95 = pct(ok, 0.50), pct(ok, 0.95)
        thr = len(ok) / sum(ok) if ok else 0.0
    return {"setup_s": setup, "op_p50_s": p50, "op_p95_s": p95,
            "throughput_per_s": thr, "peak_heap_mb": rep["heap_peak_mb"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    data = DATA[args.workload]
    if not os.path.isfile(os.path.join(data, "events.parquet")):
        die(f"benchmark data missing under {data}")
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    report_path = os.path.join(OUT, f"{tag}.json")
    if os.path.exists(report_path):
        os.remove(report_path)
    try:
        os.makedirs(work, exist_ok=True)
        panel = os.path.join(work, "panel.tsv")
        write_panel(panel)
        rep = run_jvm(cp, args, work, report_path, ("--expected", panel))
        if args.workload == "daily_backfill":
            t0 = time.time()
            check_backfill(rep)
            log(f"checked {rep['checked_pairs']} pairs in {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(report_path, "w") as f:
        json.dump(rep, f, indent=1)

    ops = rep["ops"]
    failed = [o for o in ops if not o["ok"]]
    for o in failed[:10]:
        log(f"failed {o['kind']} {o['id']}: {o['error']}")
    for w in rep.get("warmup_failures", []):
        log(f"warm-up failure: {w}")
    if not any(o["ok"] for o in ops):
        die("no operation succeeded", 3)
    if args.trace:
        layers = rep.get("layers", {})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        vals = end_to_end(rep)
        metrics = {k: {"value": float(vals[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
