"""Compares the catalog slice's results with DuckDB running each entry's
oracle SQL on the same parquet corpus, the way the repository's
tools/check.py does: same column names, same DuckDB-visible types, and the
same rows in order after sorting columns by name, floats compared by their
shortest round-trip repr."""
import json
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def _fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    types = [d[1] for d in cur.description]
    return cols, dict(zip(cols, types)), cur.fetchall()


def compare_one(con, name, sql, out_dir):
    """None when the entry's Spark output equals the oracle's, else why not."""
    try:
        exp_cols, exp_types, exp_rows = _fetch(con, sql)
    except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
        return f"oracle SQL error: {e}"
    try:
        got_cols, got_types, got_rows = _fetch(
            con, f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'")
    except Exception as e:  # noqa: BLE001
        return f"spark output missing: {e}"
    if sorted(exp_cols) != sorted(got_cols):
        return f"columns spark={sorted(got_cols)} oracle={sorted(exp_cols)}"
    bad_types = {c: (got_types[c], exp_types[c]) for c in exp_cols
                 if got_types[c] != exp_types[c]}
    if bad_types:
        return f"dtype mismatch {bad_types}"
    eperm = [exp_cols.index(c) for c in sorted(exp_cols)]
    gperm = [got_cols.index(c) for c in sorted(got_cols)]
    e_rows = [tuple(norm(r[i]) for i in eperm) for r in exp_rows]
    g_rows = [tuple(norm(r[i]) for i in gperm) for r in got_rows]
    if len(e_rows) != len(g_rows):
        return f"rowcount spark={len(g_rows)} oracle={len(e_rows)}"
    bad = [i for i, (a, b) in enumerate(zip(g_rows, e_rows)) if a != b]
    if bad:
        i = bad[0]
        return f"{len(bad)}/{len(e_rows)} rows differ; first at {i}: " \
               f"spark {g_rows[i]} oracle {e_rows[i]}"
    return None


def compare(corpus_dir, out_dir):
    """Names of failing entries, each with the reason ("name: reason")."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '1GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(corpus_dir, t)}.parquet'")
    written = sorted(n for n in os.listdir(out_dir)
                     if os.path.isdir(os.path.join(out_dir, n)))
    failures = [f"{n}: no oracle SQL" for n in written if n not in oracle]
    for name, sql in sorted(oracle.items()):
        why = compare_one(con, name, sql, out_dir)
        if why:
            failures.append(f"{name}: {why}")
    con.close()
    return failures
