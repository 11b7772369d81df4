"""Order-insensitive, bit-exact digests of query results.

Both sides of a correctness check -- Spark's ``collect()`` rows and
DuckDB's ``fetchall()`` rows -- are reduced to one canonical string per
row, the strings are sorted, and the sorted list is hashed. Floats keep
every bit (``repr`` round-trips), an integral float equals the same
integer, and a ``Decimal`` equals a float only when the two values are
exactly equal; this is the equality ``tools/selfcheck.py`` applies.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from typing import Any, Iterable, Sequence


def canon(v: Any) -> str:
    """Canonical text of one value, stable across Spark and DuckDB."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2**53:
            return f"i{int(v)}"
        return f"f{v!r}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"i{int(v)}"
        if decimal.Decimal(float(v)) == v:
            return canon(float(v))
        return f"d{v.normalize()}"
    if isinstance(v, str):
        return "s" + v.replace("\\", "\\\\").replace("|", "\\|")
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, dt.date):
        return "D" + v.isoformat()
    if isinstance(v, dict):
        return "{" + "|".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row for a struct value
        return canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + "|".join(canon(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def digest(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> dict:
    """``{"columns", "rows", "sha256"}`` of a result, independent of row
    and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return {
        "columns": sorted(columns),
        "rows": len(lines),
        "sha256": h.hexdigest(),
    }


def spark_digest(df) -> dict:
    """Digest of a Spark DataFrame's full result (collected into this process)."""
    return digest(df.columns, [tuple(r) for r in df.collect()])
