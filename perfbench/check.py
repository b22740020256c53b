"""Result checks, run outside the timed window.

Registry keys are checked the way the engine's correctness gate checks
them: row count plus an order-insensitive hash of canonicalized rows,
against the key's DuckDB oracle over the same tables. Oracle results
depend only on the (fixed) tables and the oracle text, so their digests
are cached on disk and computed once per checkout.

Unrounded float aggregates can differ between engines in the last
bits (summation order), which a hash cannot absorb: on a digest
mismatch, and for governed statements always, rows are compared one by
one, floats with a relative tolerance of 1e-9.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
from pathlib import Path

import duckdb


def canon(v) -> str:
    """One cell as a string; floats tagged so 126.0 never equals 126."""
    if v is None:
        return "<NULL>"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return f"b:{v.hex()}"
    return str(v)


def by_name(columns: list[str], rows) -> list[tuple]:
    """Rows with their cells in column-name order, so projection order
    does not matter."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(r[i] for i in order) for r in rows]


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 over sorted canonical rows)."""
    lines = sorted("\x1f".join(canon(v) for v in r)
                   for r in by_name(columns, rows))
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def oracle_connection(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class OracleCache:
    """Expected (rows, digest) per registry key, cached under ``root`` by
    table directory and oracle text."""

    def __init__(self, root: Path, sf_dir: str, tables: list[str]) -> None:
        self.root = root
        self.sf_dir = sf_dir
        self.tables = tables
        self._con: duckdb.DuckDBPyConnection | None = None

    def expected(self, oracle_sql: str) -> tuple[int, str]:
        key = hashlib.sha256(
            f"{self.sf_dir}\n{oracle_sql}".encode()).hexdigest()[:24]
        path = self.root / f"{key}.json"
        if path.is_file():
            hit = json.loads(path.read_text())
            return hit["rows"], hit["digest"]
        if self._con is None:
            self._con = oracle_connection(self.sf_dir, self.tables)
        rel = self._con.sql(oracle_sql)
        rows, dig = digest(rel.columns, rel.fetchall())
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"rows": rows, "digest": dig}))
        tmp.replace(path)
        return rows, dig

    def rows(self, oracle_sql: str) -> list[tuple]:
        """Oracle rows, columns in name order."""
        if self._con is None:
            self._con = oracle_connection(self.sf_dir, self.tables)
        rel = self._con.sql(oracle_sql)
        return by_name(rel.columns, rel.fetchall())

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def _sort_key(row: tuple) -> tuple:
    return tuple(f"f:{v:.6g}" if isinstance(v, float) else canon(v)
                 for v in row)


def _same(a, b) -> bool:
    if isinstance(a, decimal.Decimal):
        a = float(a)
    if isinstance(b, decimal.Decimal):
        b = float(b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, float) != isinstance(b, float):
        return False
    return canon(a) == canon(b)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row-multiset equality with float tolerance."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return False
    return True
