"""Local replica of the driver's correctness gate.

Runs a queries() entry on Spark and its oracle_sql() twin on DuckDB
over the same parquet dir, then compares row count, schema width, and
an order-insensitive value hash (columns sorted by name, rows sorted
by their string forms — mirroring the driver contract).
"""

from __future__ import annotations

import hashlib
import math

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def plan_of(df) -> str:
    """df's executed physical plan as text. Under AQE this is the
    initial plan: building it runs no Spark job."""
    return df._jdf.queryExecution().executedPlan().toString()


def compare(spark, sf_dir: str, qfn, sql: str) -> dict:
    sdf = qfn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duck_connect(sf_dir)
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()
    return {
        "spark_rows": len(srows),
        "duck_rows": len(drows),
        "spark_cols": sorted(scols),
        "duck_cols": sorted(dcols),
        "rows_match": len(srows) == len(drows),
        "cols_match": sorted(scols) == sorted(dcols),
        "hash_match": value_hash(scols, srows) == value_hash(dcols, drows),
    }
