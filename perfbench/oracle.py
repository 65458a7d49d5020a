"""Output checks for registry queries: each Spark result is compared with
its DuckDB ``oracle_sql`` over the same parquet files, order-insensitively,
after canonicalizing values the way the registry's parity tests do."""

from __future__ import annotations

import decimal
import math

import duckdb

from kafka_streaming_spark.schemas import TESTDATA_TABLES


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    return str(v)


def canonical(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows as sorted tuples of canonical strings, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB views over one table directory; each query's expected result
    is computed once."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TESTDATA_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def matches(self, name: str, sql: str, columns: list[str], rows: list[tuple]) -> bool:
        if name not in self._cache:
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            self._cache[name] = (sorted(cols), canonical(cols, rel.fetchall()))
        cols, want = self._cache[name]
        return sorted(columns) == cols and canonical(columns, rows) == want

    def close(self) -> None:
        self.con.close()
