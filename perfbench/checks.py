"""Output checks: the Spark-side result fingerprint every op ends in, the
canonical row digest compared against the DuckDB oracles, and the oracle
cache kept in the benchmark's work directory."""

from __future__ import annotations

import hashlib
import json
import math
import os

import datagen

# Floats are compared at 6 decimals: the local-tail vs distributed rule of
# tools/tail_parity.py, and loose enough that a shuffle-order change in a
# floating-point sum does not move the fingerprint.
FP_DECIMALS = 6


def fingerprint_frame(df):
    """A one-row frame (n, h): the row count and an order-insensitive
    64-bit hash of a DataFrame, by one Spark aggregate over every output
    column, so collecting it materialises every column."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = F.round(c, FP_DECIMALS)
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
            c = F.transform(c, lambda x: F.round(x, FP_DECIMALS))
        elif isinstance(t, T.MapType):
            c = F.to_json(c)
        cols.append(c)
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols)), F.lit(0)).alias("h"),
    )


def tail_parity(tail_rows, dist_rows) -> str | None:
    """The rule of tools/tail_parity.py for a gated operator's two paths:
    the row multisets are equal, or equal with floats rounded to 6
    decimals. Returns None when they agree, else a short description."""
    def r6(row):
        return tuple(round(v, FP_DECIMALS) if isinstance(v, float) else v for v in row)

    tail, dist = sorted(map(tuple, tail_rows)), sorted(map(tuple, dist_rows))
    if tail == dist or sorted(map(r6, tail)) == sorted(map(r6, dist)):
        return None
    diff = [(a, b) for a, b in zip(tail, dist) if a != b][:3]
    return f"rows {len(tail)} vs {len(dist)}, first differences {diff}"


def _normalize(value):
    """Canonical value for the cross-engine comparison (the rules of
    tests/test_oracle_parity.py: 9-decimal floats, -0.0 kept apart)."""
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        if value == 0.0 and math.copysign(1.0, value) < 0:
            return "-0.0"
        return round(value, 9)
    if hasattr(value, "isoformat"):
        return value.isoformat()
    if isinstance(value, (int, str, bool, bytes)):
        return value
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    try:
        return round(float(value), 9)
    except (TypeError, ValueError):
        return str(value)


def row_digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result: columns sorted by name, each
    row canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_normalize(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(canon), "columns": sorted(columns), "sha256": h.hexdigest()}


class OracleCache:
    """DuckDB oracle digests, computed once per checkout and lake.

    Keyed by the SQL text, so a changed oracle is recomputed."""

    def __init__(self, work_dir: str, lake: str):
        self.lake = lake
        self.path = os.path.join(work_dir, f"oracles_{os.path.basename(lake)}.json")
        self.data: dict = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.data = json.load(fh)

    @staticmethod
    def key(sql: str) -> str:
        return hashlib.sha256(sql.encode()).hexdigest()

    def missing(self, oracles: dict[str, str]) -> list[str]:
        return [n for n, sql in oracles.items() if self.key(sql) not in self.data]

    def fill(self, oracles: dict[str, str]) -> None:
        """Run every missing oracle through DuckDB and store its digest."""
        todo = self.missing(oracles)
        if not todo:
            return
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET memory_limit = '4GB'")
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake}/{t}.parquet'")
            for name in todo:
                rel = con.sql(oracles[name])
                self.data[self.key(oracles[name])] = row_digest(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        tmp = f"{self.path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(self.data, fh)
        os.replace(tmp, self.path)

    def get(self, sql: str) -> dict:
        return self.data[self.key(sql)]
