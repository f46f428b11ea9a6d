"""Local stand-in for the driver's correctness gate: run a Spark query
and its DuckDB oracle on the same sf dir, compare row count, schema
(column names) and an order-insensitive value hash.

Oracle results are fetched through Arrow, as the gate does — not
through ``fetchall()``, which renders a HUGEINT ``sum()`` as a Python
int where Arrow gives decimal128 and the hash no longer matches."""

from __future__ import annotations

import hashlib
import math

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return f"{float(v):.10g}"
    except ImportError:
        pass
    return str(v)


def fetch_oracle(con, sql):
    """Run ``sql`` and return (rows, colnames) from its Arrow result.
    A decimal128 column fails here: DuckDB types an integer ``sum()`` as
    HUGEINT, which Arrow renders as decimal128(38, 0), so the oracle
    must CAST such sums to BIGINT."""
    tbl = con.execute(sql).arrow()
    dec = [f.name for f in tbl.schema if pa.types.is_decimal(f.type)]
    if dec:
        raise AssertionError(
            f"oracle returns decimal128 column(s) {dec}; CAST them to BIGINT")
    rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
    return rows, tbl.column_names


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare(spark, con, fn, sql, sf_dir: str):
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    orows, ocols = fetch_oracle(con, sql)
    report = {
        "spark_rows": len(srows), "oracle_rows": len(orows),
        "spark_cols": sorted(scols), "oracle_cols": sorted(ocols),
        "rows_match": len(srows) == len(orows),
        "schema_match": sorted(scols) == sorted(ocols),
    }
    report["hash_match"] = (report["rows_match"] and report["schema_match"]
                            and value_hash(srows, scols) == value_hash(orows, ocols))
    return report


def diff_sample(spark, con, fn, sql, sf_dir: str, limit=5):
    """Debug helper: first few rows present on one side only."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    order = sorted(range(len(scols)), key=lambda i: scols[i])
    srows = {"\x1f".join(_norm(tuple(r)[i]) for i in order) for r in sdf.collect()}
    orows_raw, ocols = fetch_oracle(con, sql)
    oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
    orows = {"\x1f".join(_norm(r[i]) for i in oorder) for r in orows_raw}
    return {
        "cols_sorted": sorted(scols),
        "spark_only": sorted(srows - orows)[:limit],
        "oracle_only": sorted(orows - srows)[:limit],
    }
