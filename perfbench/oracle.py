"""Result checks against DuckDB.

Two kinds of check, both run outside the latency timer:

- a registered query's ``toPandas()`` result is reduced to a fingerprint
  and compared with the fingerprint of the DuckDB ``oracle_sql()``
  result, computed once per scale and stored in ``fingerprints.json``;
- a generated dialect statement's CSV text (``Engine.execute``) is
  compared, as a multiset of rows, with DuckDB running the same text.

The fingerprint canonicalises a frame the way the repository's oracle
test compares two frames: columns sorted by name, rows sorted by every
column, each column's pandas dtype, floats by ``repr`` with NaN equal
to null, everything else by ``str``.
"""

from __future__ import annotations

import hashlib
import math
import multiprocessing
import os

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _token(value) -> str:
    if isinstance(value, float):
        return "\0null" if math.isnan(value) else repr(value)
    if value is None or value is pd.NaT or value is pd.NA:
        return "\0null"
    return str(value)


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    try:
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    except TypeError:  # unorderable cells (lists, mixed types)
        key = df.astype(str)
        df = df.loc[key.sort_values(by=list(key.columns), kind="mergesort").index]
    return df.reset_index(drop=True)


def fingerprint(df: pd.DataFrame) -> str:
    df = canonical(df)
    h = hashlib.sha256()
    h.update(repr([(c, str(df[c].dtype)) for c in df.columns]).encode())
    h.update(f"rows={len(df)}".encode())
    for col in df.columns:
        h.update(b"\1")
        for value in df[col].tolist():
            h.update(_token(value).encode())
            h.update(b"\2")
    return h.hexdigest()


class DuckOracle:
    """One DuckDB connection with the ten tables as parquet views."""

    def __init__(self, data_dir: str, threads: int = 1) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def rows(self, sql: str) -> list[str]:
        """Rows of ``sql`` formatted the way ``Engine.execute`` prints them."""
        return [",".join(str(v) for v in row) for row in self.con.execute(sql).fetchall()]

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def csv_rows(text: str) -> list[str]:
    """Data rows of ``Engine.execute`` output (the first line is the header)."""
    return text.split("\n")[1:]


def _serve(data_dir: str, conn) -> None:
    oracle = DuckOracle(data_dir)
    try:
        while True:
            msg = conn.recv()
            if msg is None:
                return
            method, sql = msg
            try:
                conn.send((True, getattr(oracle, method)(sql)))
            except duckdb.Error as exc:
                conn.send((False, f"{type(exc).__name__}: {exc}"))
    finally:
        oracle.close()


class OracleProcess:
    """``DuckOracle`` in a separate process, so DuckDB's memory and CPU
    never count toward the measured driver's footprint."""

    def __init__(self, data_dir: str) -> None:
        ctx = multiprocessing.get_context("spawn")
        self.conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=_serve, args=(data_dir, child), daemon=True)
        self.proc.start()
        child.close()

    def _call(self, method: str, sql: str):
        self.conn.send((method, sql))
        ok, value = self.conn.recv()
        if not ok:
            raise RuntimeError(value)
        return value

    def rows(self, sql: str) -> list[str]:
        return self._call("rows", sql)

    def scalar(self, sql: str):
        return self._call("scalar", sql)

    def close(self) -> None:
        self.conn.send(None)
        self.proc.join(timeout=30)
        if self.proc.is_alive():
            self.proc.kill()
            self.proc.join()
