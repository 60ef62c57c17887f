#!/usr/bin/env python3
"""Regenerate `pins.json`: the DuckDB oracle's result digest for every
row of the `query_small` set, over the sf0.01 fixtures in `fixtures/`.

    python3 perfbench/pin.py

Run it when the query set, an oracle query or the fixtures change. The
oracle SQL comes from `SparkEntry.oracleSql` (dumped by `perfbench.Main --dump-oracle`);
digests read results as `scripts/check.py` does (see digest.py).
"""
import json
import os
import subprocess

import duckdb

import run
from digest import TABLES, digest


def main():
    os.makedirs(run.WORK, exist_ok=True)
    cp = run.build()
    data = os.path.join(run.FIXTURES, "sf0.01")
    sql_file = os.path.join(run.WORK, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--dump-oracle",
                    sql_file], check=True)
    oracle = json.load(open(sql_file))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    pins = {}
    for name, sql in oracle.items():
        if sql is None:
            raise SystemExit(f"{name} has no oracle SQL")
        d, n = digest(con, sql)
        pins[name] = {"digest": d, "rows": n}
        print(f"{name}: {n} rows {d[:12]}")
    with open(os.path.join(run.HERE, "pins.json"), "w") as fh:
        json.dump({"sf0.01": pins}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
