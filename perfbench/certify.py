#!/usr/bin/env python3
"""Rebuilds perfbench/expected/sf0.1.json: the row count and digest of
every benchmark query's answer, as the DuckDB oracle computes it.

    python3 perfbench/certify.py

Each query's `oracleSql` runs in DuckDB over the same sf0.1 parquet
tables; the answers are written as parquet and digested by the
benchmark's own order-independent hash (OutputHash), never by the
engine's queries. Run it from the root of a checkout.
"""
import json
import os
import shutil

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    root = os.getcwd()
    run.check_sources(root)
    cp = run.build(root)
    sf = os.path.join(run.data_root(), "sf0.1")
    work = os.path.join(root, ".bench_work", f"certify-{os.getpid()}")
    answers = os.path.join(work, "oracle")
    os.makedirs(answers)
    try:
        sql_file = os.path.join(work, "oracle_sql.json")
        if run.java(root, cp, work, ["--oracle-sql", sql_file], timeout=600) != 0:
            run.fail(1, "could not list the oracle SQL")
        with open(sql_file) as f:
            oracles = json.load(f)
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for q, sql in sorted(oracles.items()):
            out = os.path.join(answers, f"{q}.parquet")
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        digests = os.path.join(work, "digests.json")
        if run.java(root, cp, work, ["--digest", answers, digests], timeout=600) != 0:
            run.fail(1, "could not digest the oracle answers")
        with open(digests) as f:
            queries = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    doc = {"about": "DuckDB oracle answers over the sf0.1 tables, digested by "
                    "graftbench.OutputHash; rebuild with perfbench/certify.py",
           "duckdb": duckdb.__version__, "queries": queries}
    os.makedirs(os.path.join(run.BENCH, "expected"), exist_ok=True)
    with open(os.path.join(run.BENCH, "expected", "sf0.1.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"certified {len(queries)} queries")


if __name__ == "__main__":
    main()
