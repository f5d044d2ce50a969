"""Result checks for the analytics workloads: rows are compared to the
query's catalog DuckDB oracle, normalised as the repository's oracle test
does (columns by name, NULL/NaN made comparable, rows order-insensitive)."""

from __future__ import annotations

import math
import numbers
import os


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _key(v):
    """Sort key that orders equal values identically whatever their Python
    type (DuckDB may return Decimal or int where Spark returns float)."""
    if v is None:
        return (0, 0.0, "")
    if isinstance(v, numbers.Number) and not isinstance(v, bool):
        return (1, float(v), "")
    if isinstance(v, tuple):
        return (2, 0.0, repr(tuple(_key(x) for x in v)))
    return (3, 0.0, str(v))


def normalize(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted column names, rows projected to them and sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = tuple(columns[i] for i in order)
    out = [tuple(_cell(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple(_key(v) for v in r))
    return cols, out


def mismatch(got, want) -> str | None:
    """Why two normalised results differ, or None when they are equal."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return f"columns {list(gcols)} != oracle {list(wcols)}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != oracle {len(wrows)}"
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if g != w:
            return f"row {i}: {g!r} != oracle {w!r}"
    return None


class Oracle:
    """DuckDB over the fixture tables at one scale factor; each query's
    oracle result is computed once and kept."""

    def __init__(self, sf_dir: str, workdir: str) -> None:
        import duckdb

        from edgy_spark.sources.tables import TABLES

        self.con = duckdb.connect()
        tmp = os.path.join(workdir, "duckdb")
        os.makedirs(tmp, exist_ok=True)
        self.con.execute(f"SET temp_directory = '{tmp}'")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self._cache: dict[str, tuple] = {}

    def result(self, name: str, sql: str):
        if name not in self._cache:
            rel = self.con.sql(sql)
            self._cache[name] = normalize(list(rel.columns), rel.fetchall())
        return self._cache[name]

    def close(self) -> None:
        self.con.close()
