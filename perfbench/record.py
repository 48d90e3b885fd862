#!/usr/bin/env python3
"""Records the expected result of every SparkEntry query for query_suite.

    python3 perfbench/record.py

Runs every query once at sf0.01 (one JVM, local[4]), checks each result
against its DuckDB oracle SQL (`SparkEntry.oracleSql`) over the same
parquet tables, and writes perfbench/expected/query_suite.json: per query
the row count and result digest (only for results the oracle confirms),
the wall time, and the Spark jobs building the query ran eagerly.
query_suite later compares each result's digest with this file. Takes
about ten minutes.
"""
import datetime
import decimal
import glob
import json
import os
import shutil
import sys
from types import SimpleNamespace

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.reset_index(drop=True)


def is_decimal(s):
    nn = s.dropna()
    return s.dtype.kind == "O" and len(nn) > 0 and isinstance(nn.iloc[0], decimal.Decimal)


def compare(spark_df, duck_df):
    """None when equal, else the first difference: same columns, rows,
    numeric kinds, and the same rendering of every cell."""
    if list(spark_df.columns) != list(duck_df.columns):
        return f"columns {list(spark_df.columns)} vs {list(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"rows {len(spark_df)} vs {len(duck_df)}"
    for c in spark_df.columns:
        kinds = {spark_df[c].dtype.kind, duck_df[c].dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return f"numeric kind differs in {c}"
        if is_decimal(spark_df[c]) != is_decimal(duck_df[c]):
            return f"decimal rendering differs in {c}"
        sr, dr = spark_df[c].map(str), duck_df[c].map(str)
        bad = sr[sr != dr]
        if len(bad):
            i = bad.index[0]
            return f"{c} row {i}: {sr[i]!r} vs {dr[i]!r}"
    return None


def main():
    cp = run.build()
    work = os.path.join(run.HERE, ".work", f"record-{os.getpid()}")
    os.makedirs(run.OUT, exist_ok=True)
    report_path = os.path.join(run.OUT, "record_suite.json")
    args = SimpleNamespace(workload="record_suite", seed=0, seconds=0, trace=1)
    run.JVM_TIMEOUT_S = 1800
    try:
        rep = run.run_jvm(cp, args, work, report_path)
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(run.DATA["query_suite"], f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, r in rep["record"].items():
            entry = dict(r)
            sql = rep["oracle_sql"].get(name)
            if "error" in r:
                entry["oracle"] = "query failed"
            elif sql is None:
                entry["oracle"] = "no oracle SQL"
            else:
                files = glob.glob(os.path.join(work, "record", name, "*.parquet"))
                spark_df = norm(pd.read_parquet(files[0]))
                try:
                    diff = compare(spark_df, norm(con.execute(sql).fetchdf()))
                except Exception as e:
                    diff = f"oracle error {e}"
                entry["oracle"] = "pass" if diff is None else f"fail: {diff}"
            if entry["oracle"] != "pass":
                entry.pop("sha256", None)
            out[name] = entry
            print(f"{entry['oracle'][:60]:60s} {name}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    dest = os.path.join(run.HERE, "expected", "query_suite.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    passed = sum(1 for e in out.values() if e["oracle"] == "pass")
    print(f"{passed}/{len(out)} results confirmed by the oracle -> {dest}")


if __name__ == "__main__":
    main()
