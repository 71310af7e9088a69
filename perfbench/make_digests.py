#!/usr/bin/env python3
"""Take the catalog workload's oracle digests.

    python3 perfbench/make_digests.py

Run from the root of a checkout. Runs each catalog query's oracle SQL
(`graft.SparkEntry.oracleSql`) in DuckDB over the tables in
`perfbench/data/sf0.01` and writes the digest of every result to
`perfbench/catalog_digests.json`, which `run.py` checks the Spark results
against. It also runs the catalog workload once and reports, per query,
whether Spark's result matches the oracle's; it exits 1 if one does not.
Rerun it when the tables or a catalog query's oracle SQL change.
"""
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp = run.build()
    res, work = run.run_jvm(cp, "catalog_tail", 0, 1, 0, tag="digests",
                            jvm_extra=run.archive_flags())
    results = res["notes"]["results_dir"]
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    tables = os.path.join(run.DATA, "sf0.01")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(tables)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, f)}')")
    out, disagree = {}, []
    for q in run.CATALOG:
        if q not in oracle:
            sys.exit(f"{q} has no oracle SQL")
        want = run.digest(con.execute(oracle[q]).arrow())
        got = run.spark_digest(results, q)
        ok = got == want
        print(f"{q}: oracle {want['rows']} rows {want['sha256'][:12]}, "
              f"spark {'agrees' if ok else got}")
        if not ok:
            disagree.append(q)
        out[q] = dict(want, sql=run.sql_hash(oracle[q]))
    shutil.rmtree(work, ignore_errors=True)
    with open(run.DIGESTS, "w") as fh:
        json.dump({"tables": "data/sf0.01", "duckdb": duckdb.__version__,
                   "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if disagree:
        sys.exit(f"spark disagrees with the oracle on {disagree}")


if __name__ == "__main__":
    main()
