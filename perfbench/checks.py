"""Output checks, run outside the timer.

Query results are compared with their DuckDB oracle as (row count,
order-insensitive hash). The hash canonicalizes each value: integers of
any width hash alike, floats are rounded to 9 significant digits (Spark
and DuckDB may sum in a different order), timestamps become UTC
microsecond strings, and rows are sorted before hashing.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import numpy as np
import pyarrow as pa


def _cell(value) -> str:
    if value is None:
        return "\x00"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.9g}"
    if isinstance(value, bool):
        return str(int(value))
    if hasattr(value, "isoformat"):
        if getattr(value, "tzinfo", None) is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return value.isoformat()
    return str(value)


def table_digest(table: pa.Table) -> tuple[int, str]:
    """(row count, order-insensitive hash) of an Arrow table."""
    cols = sorted(table.column_names)
    columns = [table.column(c).to_pylist() for c in cols]
    rows = sorted("\x1f".join(_cell(v) for v in row) for row in zip(*columns))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for row in rows:
        h.update(row.encode())
        h.update(b"\x1e")
    return table.num_rows, h.hexdigest()[:16]


def duckdb_conn(data_dir: str, tables, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET memory_limit = '3GB'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digest(con, sql: str) -> tuple[int, str]:
    return table_digest(con.execute(sql).fetch_arrow_table())


def spark_digest(df) -> tuple[int, str]:
    return table_digest(df.toArrow())


def pca_problems(rows, data_dir: str, scale: float, n_components: int) -> list[str]:
    """Check ``embedding_pca`` output against ``numpy.linalg.eigh`` on the
    same quantized vectors: direction up to sign, eigenvalue and
    explained ratio."""
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    mat = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float64)
    q = np.rint(mat * scale) / scale
    cov = np.cov(q, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    problems = []
    for c in range(n_components):
        comp = sorted((r for r in rows if r["component"] == c), key=lambda r: r["dim"])
        if len(comp) != mat.shape[1]:
            problems.append(f"component {c}: {len(comp)} dims")
            continue
        got = np.array([r["weight"] for r in comp])
        if abs(float(got @ vecs[:, c])) <= 0.999:
            problems.append(f"component {c}: direction")
        lam = comp[0]["eigenvalue"]
        if not math.isclose(lam, vals[c], rel_tol=1e-6):
            problems.append(f"component {c}: eigenvalue {lam} != {vals[c]}")
        ratio = comp[0]["explained_ratio"]
        if not math.isclose(ratio, vals[c] / np.trace(cov), rel_tol=1e-6):
            problems.append(f"component {c}: explained ratio")
    return problems
