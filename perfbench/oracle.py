"""DuckDB oracles for the benchmark's output checks.

``run.py`` computes them in-process during set-up, before the Spark
session starts and outside every timed region. :func:`oracles` returns
``{name: [row_count, digest]}`` (``extract_spans_total`` for
``extract``); :func:`digest` is the order-insensitive value hash both
sides of every check go through.
"""

from __future__ import annotations

import datetime
import hashlib
import os

MATCH_QUERIES = ("match_best", "match_merged", "match_summary")
THREADS = 4


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return tuple(_cell(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def digest(cols: list[str], rows) -> list:
    """``[row_count, sha256]`` over rows with columns sorted by name and
    rows sorted, so engine column and row order do not matter."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lines = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    return [len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()]


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {THREADS}")
    con.execute(f"SET temp_directory = '{sf_dir}/duckdb_tmp'")
    for t in ("documents", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _run(con, sql: str) -> list:
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def oracles(workload: str, sf_dir: str, queries) -> dict:
    from pdf_ocr_comparison_tool_spark import oracles as O
    from pdf_ocr_comparison_tool_spark import queries as Q
    from pdf_ocr_comparison_tool_spark import sqlgen as G

    con = _duck(sf_dir)
    osql = Q.oracle_sql()
    out: dict = {}
    if workload == "match":
        # match_merged and match_summary embed the match_best oracle as a
        # subquery; compute it once and substitute the materialized table
        best_sql = O.match_best_sql(G.DUCK)
        con.execute(f"CREATE TABLE oracle_best AS {best_sql}")
        out["match_best"] = _run(con, "SELECT * FROM oracle_best")
        for name in MATCH_QUERIES[1:]:
            sql = osql[name]
            if sql.count(best_sql) != 1:
                raise ValueError(f"{name}: oracle no longer embeds match_best once")
            out[name] = _run(con, sql.replace(best_sql, "SELECT * FROM oracle_best"))
    elif workload == "extract":
        out["extract_spans_total"] = con.execute(
            f"SELECT count(*) FROM ({G.extraction_sql(G.DUCK)})"
        ).fetchone()[0]
    else:
        for name in dict.fromkeys(queries):
            out[name] = _run(con, osql[name])
    con.close()
    return out
