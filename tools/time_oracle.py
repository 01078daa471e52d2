#!/usr/bin/env python3
"""Time the DuckDB oracle suite over a data dir — the engine-vs-oracle
ratio denominator for BENCH comparisons (the judge's stable metric:
wall totals shift with host contention, the ratio does not).

Usage: python3 tools/time_oracle.py <sfDir> <verifyOutDir> [threads]
  (<verifyOutDir>/oracle_sql.json from graft.Verify supplies the SQL)

Prints per-query seconds (slowest 15) and ONE summary line:
  ORACLE_TOTAL=<sec> N=<queries> sf=<dir>
"""
import duckdb, json, os, re, sys, time

import selfcheck  # run_staged: the CTE->temp-table capacity mode

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    threads = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    # ORACLE_STAGED: regex of query names to run through selfcheck's
    # staged executor (results byte-identical; peak footprint bounded
    # one pipeline at a time) — the denominator mode for SFs where the
    # one-shot WITH exceeds the box. ORACLE_MEM raises the 24GB cap.
    staged = (re.compile(os.environ["ORACLE_STAGED"])
              if os.environ.get("ORACLE_STAGED") else None)
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    con.sql(f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'")
    con.sql(f"SET memory_limit='{os.environ.get('ORACLE_MEM', '24GB')}'")
    con.sql("SET preserve_insertion_order=false")
    for t in TABLES:
        path = f"{sfdir}/{t}.parquet"
        # ** also descends gpart_* day-partition dirs (see selfcheck.py)
        glob = path + ("/**/*.parquet" if os.path.isdir(path) else "")
        con.sql(f"create view {t} as select * from '{glob}'")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    if len(sys.argv) > 4:  # optional regex filter, like selfcheck.py
        pat = re.compile(sys.argv[4])
        oracle = {k: v for k, v in oracle.items() if pat.search(k)}
    times = {}
    for name in sorted(oracle):
        t0 = time.time()
        if staged and staged.search(name):
            selfcheck.run_staged(con, oracle[name])
        else:
            con.sql(oracle[name]).fetchall()
        times[name] = time.time() - t0
        # stream per-query lines so a long big-sf run shows progress;
        # Bench parses them for per-query oracle walls
        print(f"{times[name]:9.2f}  {name}", flush=True)
    total = sum(times.values())
    print(f"ORACLE_TOTAL={total:.1f} N={len(times)} sf={sfdir}", flush=True)


if __name__ == "__main__":
    main()
