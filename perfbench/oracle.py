#!/usr/bin/env python3
"""Regenerates the stored oracle results the gate workloads check against.

    python3 perfbench/oracle.py [gate ...]

Runs `SparkEntry.oracleSql` for every benchmark gate (or only the named
ones) in DuckDB over perfbench/tables/sf0.1 and writes each result's
fingerprint to perfbench/oracle/fingerprints.json; entries of gates no
workload runs any more are dropped. DuckDB is a computation
separate from the program; it is too slow to run on every benchmark run
(minutes for the slowest gates), so its results are stored here.
"""
import json
import os
import subprocess
import sys
import time

import common


def main():
    import duckdb
    only = set(sys.argv[1:])
    java = common.build()
    sql_file = os.path.join(common.WORK, 'oracle_sql.json')
    subprocess.run(java + ['perfbench.Main', 'oracle-sql', sql_file], check=True,
                   cwd=common.ROOT, stdin=subprocess.DEVNULL)
    sqls = common.load_json(sql_file)
    store = common.load_json(common.ORACLE) if os.path.exists(common.ORACLE) else {}
    store = {g: fp for g, fp in store.items() if g in sqls}
    con = duckdb.connect()
    con.sql('SET threads = 4')
    common.duckdb_tables(con)
    for gate in sorted(sqls):
        if only and gate not in only:
            continue
        t0 = time.time()
        fp = common.fingerprint(con, sqls[gate])
        fp['oracle_s'] = round(time.time() - t0, 1)
        store[gate] = fp
        common.log(f'{gate}: {fp["rows"]} rows in {fp["oracle_s"]} s')
        os.makedirs(os.path.dirname(common.ORACLE), exist_ok=True)
        with open(common.ORACLE, 'w') as fh:
            json.dump(dict(sorted(store.items())), fh, indent=1)
            fh.write('\n')


if __name__ == '__main__':
    main()
