"""Output check: every operation's result is reduced to a normalized-row hash
and compared with the hash of the same result computed by DuckDB.

Registry queries are compared with their ``oracle`` SQL over the same
parquet files.  ``dml_rw`` reads are compared with a DuckDB replay of the
same seeded statement stream on its own copy of ``orders``.  All of this
runs after the timed region.  Normalization follows the repository's
correctness gate: columns sorted by name, rows sorted by every column,
timestamps at nanosecond precision; the hash keeps each column's dtype kind,
so an integer column never matches a float one.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pyarrow as pa

from tidb_spark.catalog import TABLES


def _canonical(col: pd.Series) -> pd.Series:
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.astype("datetime64[ns]")
    if col.dtype == object:
        # Lists, dicts and Decimals sort and hash by their text form.
        return col.map(lambda v: None if v is None else str(v))
    return col


def frame_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: names, dtype kinds and values."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = pd.DataFrame({c: _canonical(df[c]) for c in df.columns})
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    h = hashlib.sha256()
    h.update(repr([(c, df[c].dtype.kind) for c in df.columns]).encode())
    h.update(str(len(df)).encode())
    if len(df):
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


def arrow_hash(table: pa.Table) -> str:
    return frame_hash(table.to_pandas())


class Oracle:
    """DuckDB over one scale factor's parquet files."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def query_hash(self, sql: str) -> str:
        """Hash of a registry oracle, fetched the way the correctness gate
        fetches it (``fetchdf``)."""
        return frame_hash(self.con.execute(sql).fetchdf())

    def replay(self, table: str, statements: list[tuple[str, str]]) -> list:
        """Replay ``(kind, sql)`` statements on a fresh copy of ``orders``
        named ``table``; return each read's hash and each write's count of
        rows changed.  Reads go through Arrow so DECIMAL sums stay exact."""
        self.con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM orders")
        out: list = []
        for kind, sql in statements:
            res = self.con.execute(sql)
            if kind == "read":
                out.append(arrow_hash(res.fetch_arrow_table()))
            else:
                out.append(res.fetchone()[0])
        return out

    def close(self) -> None:
        self.con.close()
