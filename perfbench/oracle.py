"""Check registry query results against DuckDB running the oracle SQL.

The benchmark writes each query's Spark result to Parquet once per run.
DuckDB compares that file with the registry's oracle SQL evaluated over
the same fixture files, normalized as ``tests/conftest.py`` normalizes:
columns matched by sorted name; integer, float, decimal, boolean, string,
timestamp and date columns kept apart (int 4 is not float 4.0); floats,
also inside lists, rounded to 9 places; rows compared as a multiset
(``EXCEPT ALL`` both ways plus equal row counts).

DuckDB answers do not depend on the program, so each is cached as a DuckDB
database under ``<cache_dir>/<sha256(sql, fixture bytes)>.duckdb``.
``python3 perfbench/run.py --refresh-oracle`` recomputes the cache.
"""

from __future__ import annotations

import hashlib
import os
import re
import time

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}


def data_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _connect(path: str = ":memory:", read_only: bool = False):
    import duckdb

    con = duckdb.connect(path, read_only=read_only)
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _answer_path(cache_dir: str, sql: str, data: str) -> str:
    key = hashlib.sha256(f"{sql}\0{data}".encode("utf-8")).hexdigest()
    return os.path.join(cache_dir, f"{key}.duckdb")


def ensure_answer(sf_dir: str, cache_dir: str, sql: str, data: str, refresh: bool = False) -> str:
    """Path of the cached oracle answer for ``sql``; computed when missing."""
    path = _answer_path(cache_dir, sql, data)
    if os.path.exists(path) and not refresh:
        return path
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    con = _connect(tmp)
    try:
        for t in TABLES:
            con.execute(
                f"CREATE TEMP VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        con.execute(f"CREATE TABLE answer AS {sql}")
    finally:
        con.close()
    os.replace(tmp, path)
    return path


def _cls(t: str) -> str:
    """Comparison class of a DuckDB type, mirroring conftest's cell tags."""
    t = t.upper()
    if t.endswith("[]"):
        return _cls(t[:-2]) + "[]"
    base = re.sub(r"\(.*\)", "", t)
    if base in _INT:
        return "int"
    if base in ("FLOAT", "DOUBLE"):
        return "float"
    if base == "DECIMAL":
        return "decimal"
    if base.startswith("TIMESTAMP"):
        return "ts"
    if base in ("BOOLEAN", "DATE", "VARCHAR"):
        return base.lower()
    return t


def _norm_expr(col: str, cls: str) -> str:
    c = '"' + col.replace('"', '""') + '"'
    if cls == "int":
        return f"CAST({c} AS HUGEINT)"
    if cls == "float":
        return f"round(CAST({c} AS DOUBLE), 9)"
    if cls == "float[]":
        return f"list_transform({c}, x -> round(CAST(x AS DOUBLE), 9))"
    if cls == "ts":
        return f"CAST({c} AS TIMESTAMP)"
    return c


def compare(spark_dir: str, answer_db: str) -> tuple[bool, str]:
    """Compare a Spark result written as Parquet with a cached oracle answer."""
    con = _connect()
    try:
        con.execute(f"ATTACH '{answer_db}' AS o (READ_ONLY)")
        con.execute(
            f"CREATE TEMP VIEW s AS SELECT * FROM read_parquet('{spark_dir}/*.parquet')"
        )
        s_types = {r[0]: r[1] for r in con.execute("DESCRIBE s").fetchall()}
        o_types = {r[0]: r[1] for r in con.execute("DESCRIBE o.answer").fetchall()}
        if sorted(s_types) != sorted(o_types):
            return False, f"columns: spark={sorted(s_types)} oracle={sorted(o_types)}"
        cols = sorted(s_types)
        for c in cols:
            if _cls(s_types[c]) != _cls(o_types[c]):
                return False, f"type of {c}: spark={s_types[c]} oracle={o_types[c]}"
        proj = ", ".join(_norm_expr(c, _cls(s_types[c])) for c in cols)
        n_s = con.execute("SELECT count(*) FROM s").fetchone()[0]
        n_o = con.execute("SELECT count(*) FROM o.answer").fetchone()[0]
        if n_s != n_o:
            return False, f"rows: spark={n_s} oracle={n_o}"
        for a, b in (("s", "o.answer"), ("o.answer", "s")):
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT {proj} FROM {a} EXCEPT ALL SELECT {proj} FROM {b})"
            ).fetchone()[0]
            if extra:
                return False, f"{extra} rows of {a} not in {b}"
        return True, f"{n_s} rows"
    finally:
        con.close()


def check_all(sf_dir: str, cache_dir: str, results_dir: str, queries: dict[str, str]) -> dict:
    """``name -> {"ok", "why", "oracle_s"}`` for every query's written result."""
    data = data_digest(sf_dir)
    out = {}
    for name, sql in queries.items():
        t0 = time.perf_counter()
        try:
            db = ensure_answer(sf_dir, cache_dir, sql, data)
            t1 = time.perf_counter()
            ok, why = compare(os.path.join(results_dir, name), db)
        except Exception as e:  # a query whose check cannot run counts as failed
            t1, ok, why = time.perf_counter(), False, f"{type(e).__name__}: {e}"[:300]
        out[name] = {"ok": ok, "why": why, "oracle_s": round(t1 - t0, 3),
                     "compare_s": round(time.perf_counter() - t1, 3)}
    return out
