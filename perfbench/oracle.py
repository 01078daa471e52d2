"""Output check: each query's result against DuckDB running the query's
oracle SQL (SparkEntry.oracleSql) over the same parquet tables.

The comparison uses the rules of tools/selfcheck.py, whose `canon` and
`cells_equal` it imports: columns are sorted by name and rows by every
column, then the two sides must have the same column names, the same row
count, the same pandas dtype per column, and equal cells, floats bit for
bit (the sign of zero too; NaN equals NaN). Array or struct cells cannot
be compared and fail.

Expected results are cached as pickles keyed on the SHA-256 of the data
fingerprint and the SQL text, so a change to either recomputes them.
"""
import hashlib
import os
import pickle
import shutil
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from selfcheck import TABLES, canon, cells_equal  # noqa: E402


def compare(got, exp):
    """None when `got` matches `exp` (both canonical), else the reason."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    dt = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in got.columns
          if str(got[c].dtype) != str(exp[c].dtype)]
    if dt:
        return f"dtypes differ {dt}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cells_equal(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def connect(tmp, data_dir=None):
    """A DuckDB connection spilling into `tmp`, with a view per table of
    `data_dir` when given."""
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{tmp}/duckdb'")
    con.sql("SET memory_limit='3GB'")
    con.sql("SET preserve_insertion_order=false")
    for t in TABLES if data_dir else []:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def key(data_fp, sql):
    return hashlib.sha256(f"{data_fp}\0{sql}".encode()).hexdigest()


def build_expected(data_dir, data_fp, sqls, cache, tmp):
    """Compute and cache the expected result of every (name, sql) in
    `sqls` that is not cached yet."""
    os.makedirs(cache, exist_ok=True)
    todo = {n: s for n, s in sqls.items()
            if not os.path.exists(f"{cache}/{key(data_fp, s)}.pkl")}
    if not todo:
        return
    con = connect(tmp, data_dir)
    for name, sql in sorted(todo.items()):
        exp = canon(con.sql(sql).df())
        path = f"{cache}/{key(data_fp, sql)}.pkl"
        with open(path + ".partial", "wb") as f:
            pickle.dump(exp, f)
        os.replace(path + ".partial", path)
    con.close()


def load_expected(data_fp, sql, cache):
    with open(f"{cache}/{key(data_fp, sql)}.pkl", "rb") as f:
        return pickle.load(f)


def check(results_dir, sqls, data_fp, cache, tmp):
    """{name: None or reason} for every result directory named in
    `sqls` (one parquet dataset per query, as the JVM writes them)."""
    con = connect(tmp)
    out = {}
    for name, sql in sqls.items():
        try:
            got = canon(con.sql(f"SELECT * FROM read_parquet("
                                f"'{results_dir}/{name}/*.parquet')").df())
            out[name] = compare(got, load_expected(data_fp, sql, cache))
        except Exception as e:  # unreadable or non-scalar result
            out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out


def self_test(name, sql, data_dir, data_fp, cache, tmp):
    """Feed the check the expected result itself, one copy with a row
    dropped and one with a float moved by one ulp; return the lines to
    print and whether the check passed the first and flagged the others."""
    build_expected(data_dir, data_fp, {name: sql}, cache, tmp)
    exp = load_expected(data_fp, sql, cache)
    floats = [c for c in exp.columns if exp[c].dtype == np.float64]
    assert len(exp) > 1 and floats, f"{name} needs rows and a float column"
    altered = exp.copy()
    altered.loc[0, floats[0]] = np.nextafter(altered.loc[0, floats[0]], np.inf)
    cases = {"unchanged": exp, "row_dropped": exp.iloc[1:],
             "float_altered": altered}
    root = os.path.join(tmp, "selftest")
    con = connect(tmp)
    for case, df in cases.items():
        os.makedirs(f"{root}/{case}", exist_ok=True)
        con.register("df_view", df)
        con.sql(f"COPY df_view TO '{root}/{case}/part-0.parquet' "
                f"(FORMAT PARQUET)")
        con.unregister("df_view")
    con.close()
    verdicts = {case: check(root, {case: sql}, data_fp, cache, tmp)[case]
                for case in cases}
    shutil.rmtree(root, ignore_errors=True)
    ok = (verdicts["unchanged"] is None and verdicts["row_dropped"] is not None
          and verdicts["float_altered"] is not None)
    lines = [f"{case}: {'flagged: ' + v if v else 'passes'}"
             for case, v in verdicts.items()]
    return ok, lines
