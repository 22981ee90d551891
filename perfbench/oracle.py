"""Result fingerprints and the DuckDB oracle.

A fingerprint is the md5 of a result's rows after canonicalization:
columns ordered by name, cells normalized (floats to 9 decimals, numpy
and list values to tuples, timestamps to ISO text), rows sorted.  This is
the comparison the engine's own oracle tests use, so a statement is
correct when its fingerprint equals that of its oracle SQL run by DuckDB
over the same Parquet files.

Oracle fingerprints depend only on the layout and the SQL text, so they
are cached per layout in the benchmark's cache directory, together with
DuckDB's own time for each statement, which the benchmark reports as
context.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from datetime import date, datetime
from decimal import Decimal

from layouts import TABLES


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if type(v).__name__ in ("ndarray", "MaskedArray"):
        return tuple(_canon(x) for x in v.tolist())
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def fingerprint(pdf) -> tuple[str, int]:
    """(md5 of the canonical sorted rows, row count) of a pandas frame."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.astype(object).where(pd.notnull(pdf), None)
    rows = sorted(
        (tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False)),
        key=lambda r: tuple(str(x) for x in r),
    )
    return hashlib.md5(repr(rows).encode()).hexdigest(), len(rows)


def _key(sql: str) -> str:
    return hashlib.sha1(sql.encode()).hexdigest()


class Oracle:
    """DuckDB over a layout's Parquet files, with a fingerprint cache."""

    def __init__(self, layout_dir: str, cache_path: str):
        self.layout_dir = layout_dir
        self.path = cache_path
        try:
            with open(self.path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.layout_dir, f"{t}.parquet")
            glob = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
        return con

    def expected(self, sql: str) -> dict:
        """{"fp", "rows", "duckdb_s"} of the oracle SQL."""
        k = _key(sql)
        if k not in self.cache:
            if self._con is None:
                self._con = self._connect()
            t0 = time.perf_counter()
            pdf = self._con.sql(sql).df()
            secs = time.perf_counter() - t0
            fp, n = fingerprint(pdf)
            self.cache[k] = {"fp": fp, "rows": n, "duckdb_s": secs}
        return self.cache[k]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.path)
