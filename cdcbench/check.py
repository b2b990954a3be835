"""Order-insensitive comparison of sink output against the model.

Both sides are reduced to canonical text lines: columns sorted by name,
timestamps as epoch microseconds, nulls as ``\\N``.  A table matches when
its row count and the md5 over its sorted lines both match.  Query
results (Spark against a DuckDB oracle) are compared the same way, with
decimals and floats read as doubles rounded to 9 places.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

from gen import TS_COLUMNS


def _cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def digest(lines: list[str]) -> str:
    h = hashlib.md5()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def model_lines(rows: list[dict], columns: list[str]) -> list[str]:
    cols = sorted(columns)
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r.get(c)
            if c in TS_COLUMNS and v is not None:
                v = v * 1000  # epoch millis -> micros, as unix_micros reads it
            vals.append(_cell(v))
        out.append("\x01".join(vals))
    return out


def spark_lines(df, columns: list[str]) -> list[str]:
    """Collect ``columns`` of ``df`` as canonical lines."""
    from pyspark.sql import functions as F, types as T

    types = {f.name: f.dataType for f in df.schema.fields}
    cols = sorted(columns)
    sel = [
        F.unix_micros(F.col(c)).alias(c)
        if isinstance(types[c], T.TimestampType)
        else F.col(c)
        for c in cols
    ]
    return ["\x01".join(_cell(v) for v in r) for r in df.select(*sel).collect()]


def expected(rows: list[dict], columns: list[str]) -> tuple[int, str]:
    lines = model_lines(rows, columns)
    return len(lines), digest(lines)


def actual(df, columns: list[str]) -> tuple[int, str]:
    lines = spark_lines(df, columns)
    return len(lines), digest(lines)


def _value(v) -> str:
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    return _cell(v)


def result(rows: list[tuple], columns: list[str]) -> tuple[int, tuple[str, ...], str]:
    """Row count, sorted column names and value hash of a query result."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    lines = ["\x01".join(_value(r[i]) for i in order) for r in rows]
    return len(lines), tuple(sorted(columns)), digest(lines)
