"""Output checks made after the JVM has exited, outside any timed region.

- taxi_etl: each run's `vendor_performance` against the program's q26
  oracle (TaxiE2E), run in DuckDB over exactly that run's input rows.
- corpus_curation, and the document backlog of incremental_view: every
  planted defect must be gone from the exported shards, and the admitted
  set must match the x166 admission algebra (the program's x166 oracle, in
  DuckDB) minus the planted near-duplicates.

Each function returns a list of failure descriptions, one per wrong
operation.
"""
import calendar
import datetime as dt
import glob
import json
import os

import duckdb

VENDOR_COLS = ["VendorID", "trip_count", "total_revenue", "median_revenue", "median_distance"]


def _rows_equal(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if a is None or b is None:
                if a is not b:
                    return False
            elif abs(float(a) - float(b)) > 1e-6:
                return False
    return True


def taxi(result, work):
    oracle = open(os.path.join(work, "q26_oracle.sql")).read()
    events = result["outputs"]["events_dir"]
    fails = []
    con = duckdb.connect()
    for run in result["outputs"]["taxi_runs"]:
        parts = []
        for ym in run["months"]:
            y, m = map(int, ym.split("-"))
            start = dt.datetime(y, m, 1)
            end = start + dt.timedelta(days=calendar.monthrange(y, m)[1])
            # the run's input rows: the month's events whose pickup lies in
            # the month named by the file
            parts.append(
                f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM "
                f"read_parquet('{events}/{ym}/events.parquet') "
                f"WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{start}' "
                f"AND CAST(ts AS TIMESTAMP) < TIMESTAMP '{end}'")
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE OR REPLACE TEMP VIEW events AS " + " UNION ALL ".join(parts))
        want = con.execute(oracle).fetchall()
        got = con.execute(
            f"SELECT {', '.join(VENDOR_COLS)} FROM read_csv("
            f"'{run['vendor_csv']}/*.csv', header=true, union_by_name=true) "
            f"ORDER BY VendorID").fetchall()
        if not _rows_equal(got, want):
            fails.append(f"taxi run {run['pid']}: vendor_performance {got} != oracle {want}")
    return fails


def admission_algebra(x166_oracle):
    """The x166 oracle up to its `dedup` CTE: the admission algebra
    (quality gate, decontamination, exact dedup) without the packing replay,
    which the benchmark does not run."""
    cut = x166_oracle.index(",\nadm AS")
    return (x166_oracle[:cut] + "\nSELECT count(*) AS n_docs, "
            "CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS sum_tokens FROM dedup")


def corpus(result, work, inputs):
    planted = json.load(open(os.path.join(inputs, "corpus", "planted.json")))
    oracle = admission_algebra(open(os.path.join(work, "x166_oracle.sql")).read())
    fails = []
    con = duckdb.connect()
    for b in result["outputs"]["corpus_batches"]:
        name, export = b["batch"], b["export"]
        files = glob.glob(os.path.join(export, "**", "*.parquet"), recursive=True)
        if not files:
            fails.append(f"corpus {name}: no exported shards")
            continue
        got = con.execute(
            "SELECT doc_id, len(string_split(text, ' ')) FROM read_parquet(?)",
            [files]).fetchall()
        ids = {r[0] for r in got}
        p = planted[name]
        kept = [k for k in ("exact_later", "near_later", "contaminated", "short")
                if ids & set(p[k])]
        con.execute("CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM "
                    f"read_parquet('{inputs}/corpus/{name}.parquet')")
        n_docs, sum_tokens = con.execute(oracle).fetchone()
        near = con.execute(
            "SELECT count(*), coalesce(sum(len(string_split(text, ' '))), 0) "
            "FROM documents WHERE list_contains(?, doc_id)", [p["near_later"]]).fetchone()
        want = (n_docs - near[0], sum_tokens - near[1])
        have = (len(got), sum(r[1] for r in got))
        if kept or have != want or len(ids) != len(got):
            fails.append(f"corpus {name}: planted kept {kept}, admitted (docs, tokens) "
                         f"{have} != expected {want}")
    return fails


CHECKS = {"taxi_etl": lambda r, w, i: taxi(r, w),
          "corpus_curation": corpus,
          "incremental_view": corpus}


def check(workload, result, work, inputs):
    fn = CHECKS.get(workload)
    return fn(result, work, inputs) if fn else []
