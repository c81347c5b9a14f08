"""Untimed output checks.

Every result the benchmark times is reduced to a ``Digest``: its row
count, sorted column names and an order-independent hash of the rows.
Both engines' results pass through the same Arrow-to-pandas conversion
(Spark ``toPandas()``, DuckDB ``.arrow().to_pandas()``), then through
one normalisation, so a Spark digest and a DuckDB digest of the same
answer are equal:

- floats and decimals print with 9 significant digits (the
  repository's oracle tolerance), integer-valued ones as integers, NaN
  as NULL (pandas turns a null in an integer column into NaN);
- other cells print as text; lists and structs element by element.

A mismatch raises ``CheckFailed``; the caller counts it as a failed op.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


class CheckFailed(Exception):
    """An op's output differs from its oracle or recorded value."""


@dataclass(frozen=True)
class Digest:
    rows: int
    columns: tuple[str, ...]
    value: int

    def short(self) -> str:
        return f"rows={self.rows} cols={len(self.columns)} hash={self.value:016x}"


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return _norm_float(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (datetime.date, str)):
        return str(v)
    if v is pd.NaT:
        return "NULL"
    return str(v)


def _norm_float(x: float) -> str:
    if math.isnan(x):
        return "NULL"
    if x.is_integer() and abs(x) < 1e15:
        return str(int(x))
    return f"{x:.9g}"


def _norm_column(s: pd.Series) -> np.ndarray:
    kind = s.dtype.kind
    if kind == "f":
        a = s.to_numpy(dtype=np.float64)
        out = np.char.mod("%.9g", a).astype(object)
        whole = np.isfinite(a) & (np.mod(a, 1.0) == 0) & (np.abs(a) < 1e15)
        out[whole] = a[whole].astype(np.int64).astype(str)
        out[np.isnan(a)] = "NULL"
        return out
    if kind in "iu":
        return s.to_numpy().astype(str).astype(object)
    if kind == "b":
        return np.where(s.to_numpy(), "true", "false").astype(object)
    if kind == "M":
        out = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").to_numpy(dtype=object)
        out[s.isna().to_numpy()] = "NULL"
        return out
    return np.array([_norm_cell(v) for v in s.tolist()], dtype=object)


def digest(pdf: pd.DataFrame) -> Digest:
    """Order-independent digest of a result frame."""
    cols = sorted(pdf.columns)
    if len(set(cols)) != len(cols):
        raise CheckFailed(f"duplicate column names {cols}")
    if not len(pdf):
        return Digest(0, tuple(cols), 0)
    normed = pd.DataFrame({c: _norm_column(pdf[c]) for c in cols})
    row_hashes = pd.util.hash_pandas_object(normed, index=False).to_numpy(np.uint64)
    return Digest(len(pdf), tuple(cols), int(row_hashes.sum(dtype=np.uint64)))


def close_enough(got: pd.DataFrame, want: pd.DataFrame, rel: float = 1e-9) -> bool:
    """Tolerant comparison for a digest mismatch of a small result:
    equal apart from floats within ``rel`` (two engines' sums of the
    same doubles can straddle a 9-digit rounding boundary).  Rows are
    matched by their non-float columns, the group keys."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(got.columns)
    floats = [c for c in cols if got[c].dtype.kind == "f" and want[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in floats]
    norm = {}
    for name, df in (("got", got), ("want", want)):
        keyed = pd.DataFrame({c: _norm_column(df[c]) for c in keys})
        if keys and keyed.duplicated().any():
            return False
        order = keyed.sort_values(keys).index if keys else df.index
        norm[name] = (keyed.loc[order].reset_index(drop=True), df.loc[order, floats].reset_index(drop=True))
    (gk, gf), (wk, wf) = norm["got"], norm["want"]
    if not gk.equals(wk):
        return False
    return bool(np.allclose(gf.to_numpy(float), wf.to_numpy(float), rtol=rel, atol=0.0, equal_nan=True))


def expect(what: str, got: Digest, want: Digest) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got.short()} {got.columns}, want {want.short()} {want.columns}")


class Oracle:
    """DuckDB over the same parquet files the program reads."""

    def __init__(self, sf_dir: str, tables: list[str], threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).arrow().to_pandas()

    def digest(self, sql: str) -> Digest:
        return digest(self.frame(sql))

    def scalar(self, sql: str):
        return self.con.sql(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()
