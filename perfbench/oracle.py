"""DuckDB output checks for a benchmark run.

Each check pairs a parquet directory the run wrote with the DuckDB SQL that
must produce the same rows. Rows are compared as multisets over the columns
sorted by name (the engine's own oracle convention), in DuckDB itself, so a
million-row result costs no Python-side conversion.
"""
import hashlib
import os
import sys

import duckdb


def _expected(con, sql, cache_dir, key):
    """Oracle rows as a parquet file, computed once per (inputs, SQL)."""
    path = os.path.join(cache_dir, key + ".parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, path)
    return path


def _inputs_digest(tables):
    """Content hash of the run's input tables: the oracle cache key."""
    h = hashlib.sha256()
    for name in sorted(tables):
        for d, _, files in sorted(os.walk(tables[name])):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(name.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _connect(tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    return con


def check_all(checks, tables, cache_dir):
    """Run every check; print one line per mismatch; return the count."""
    con = _connect(tables)
    digest = _inputs_digest(tables)
    bad = 0
    for c in checks:
        try:
            key = hashlib.sha256((digest + c["sql"]).encode()).hexdigest()
            want = f"read_parquet('{_expected(con, c['sql'], cache_dir, key)}')"
            got = f"read_parquet('{c['path']}/*.parquet')"
            wc = [d[0] for d in con.execute(f"SELECT * FROM {want} LIMIT 0").description]
            gc = [d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description]
            if sorted(wc) != sorted(gc):
                raise AssertionError(f"columns differ: oracle {sorted(wc)}, run {sorted(gc)}")
            cols = ", ".join(f'"{x}"' for x in sorted(wc))
            n_want, n_got = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                             for t in (want, got))
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT {cols} FROM {want} EXCEPT ALL SELECT {cols} FROM {got})"
                f" UNION ALL (SELECT {cols} FROM {got} EXCEPT ALL SELECT {cols} FROM {want}))"
            ).fetchone()[0]
            if diff or n_want != n_got:
                raise AssertionError(f"{diff} rows differ (oracle {n_want} rows, run {n_got})")
        except Exception as e:  # a failing check is a failed op, never a crash
            bad += 1
            print(f"[perfbench] check {c['id']} failed: {e}", file=sys.stderr)
    return bad
