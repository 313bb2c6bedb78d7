"""Output checks: order-insensitive result digests and the committed
expected values they are compared against.

A digest canonicalizes every value the way the oracle gate compares
them (``tools/check_oracle.py``: equal Python values are equal, row
order and column order do not matter), so a Spark result and its
DuckDB twin digest identically when they match.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_DIGESTS = os.path.join(HERE, "expected", "oracle_digests.json")
PIPELINE_ROWS = os.path.join(HERE, "expected", "pipeline_rows.json")


def _canon(v):
    """A JSON-able value equal for values the oracle gate calls equal.
    The benchmarked queries return only scalars (numbers, strings,
    dates, timestamps); anything else raises rather than digest loosely."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and not math.isfinite(v):
            return repr(v)
        if v == int(v) and abs(v) < 2**53:
            return int(v)
        return repr(float(v) + 0.0)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns: list[str], rows) -> dict:
    """``{"rows", "columns", "sha256"}`` of a result, independent of row
    order and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        json.dumps([_canon(row[i]) for i in order], separators=(",", ":"))
        for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "columns": sorted(columns), "sha256": h.hexdigest()}


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def compare_digest(name: str, got: dict, expected: dict) -> str | None:
    """None when ``got`` matches the committed digest, else the reason."""
    want = expected.get(name)
    if want is None:
        return f"{name}: no committed digest"
    for key in ("rows", "columns", "sha256"):
        if got[key] != want[key]:
            return f"{name}: {key} {got[key]!r} != {want[key]!r}"
    return None
