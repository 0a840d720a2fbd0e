"""Expected query results, computed once per generated table set.

Each query's DuckDB oracle (``__spark_entry__.oracle_sql()``) is run on
the generated tables and reduced to (row count, order-insensitive
hash). The results are stored beside the tables, keyed by a hash of the
oracle SQL, so a changed oracle is recomputed and an unchanged one is
read back. The Spark side is computed fresh in every run.
"""

from __future__ import annotations

import hashlib
import json
import os

import checks
import datagen


def _key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def ensure_expected(data_dir: str, queries: list[str]) -> dict[str, tuple[int, str]]:
    """(row count, hash) for each of ``queries`` that has an oracle."""
    import __spark_entry__ as entry

    oracle_sql = entry.oracle_sql()
    names = [name for name in queries if name in oracle_sql]
    path = os.path.join(data_dir, "expected.json")
    stored = {}
    if os.path.exists(path):
        with open(path) as fh:
            stored = json.load(fh)
    missing = [n for n in names if _key(oracle_sql[n]) not in stored]
    if missing:
        con = checks.duckdb_conn(data_dir, datagen.TABLES, threads=len(os.sched_getaffinity(0)))
        for name in missing:
            stored[_key(oracle_sql[name])] = list(checks.oracle_digest(con, oracle_sql[name]))
        con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: tuple(stored[_key(oracle_sql[n])]) for n in names}
