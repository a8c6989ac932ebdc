"""Pure helpers of the benchmark: statistics, span arithmetic and output
fingerprints. Nothing here starts Spark, so the tests import it freely."""

from __future__ import annotations

import hashlib
import math
import numbers
import re
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pandas as pd

_METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Floats enter the fingerprint at this many significant digits, and
# magnitudes below _ZERO read as 0, so a last-bit difference between two
# summation orders (Spark vs DuckDB, or two Spark runs) does not change
# the hash while any real change of value does.
_DIGITS = 6
_ZERO = 1e-9


def valid_metric_name(name: str) -> bool:
    return bool(_METRIC_NAME.fullmatch(name))


def beyond(n: int, q: float) -> int:
    """Samples ranked strictly above the nearest-rank q-th percentile of n."""
    return n - math.ceil(q / 100 * n)


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile, or None unless at least ten samples
    lie beyond it (fewer make the tail a guess, not a measurement)."""
    n = len(samples)
    if n == 0 or beyond(n, q) < 10:
        return None
    return sorted(samples)[math.ceil(q / 100 * n) - 1]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None = None  # index of the parent span in the same list
    key: str = ""


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed time not covered by its child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def _float(x: float) -> str:
    if math.isnan(x):
        return "'NaN'"  # oracle.canon_df turns NaN into the string 'NaN'
    if math.isinf(x):
        return repr(x)
    return "0" if abs(x) < _ZERO else f"{x:.{_DIGITS}g}"


def cell(v) -> str:
    """Text of one canonical cell, as ``oracle.canon_df`` canonicalises
    it: None, numbers, strings, ISO timestamps floored to microseconds in
    UTC, sequences as tuples, dicts as sorted pairs, bytes as hex."""
    if v is None:
        return "None"
    if isinstance(v, (bool, numbers.Integral)):
        return str(int(v)) if not isinstance(v, bool) else str(v)
    if isinstance(v, (numbers.Real, Decimal)):
        return _float(float(v))
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "(" + ",".join(cell(x) for x in v) + ")"
    if isinstance(v, dict):
        return "(" + ",".join(f"({k!r},{cell(x)})" for k, x in sorted(v.items())) + ")"
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return repr(v.floor("us").isoformat())
    if hasattr(v, "isoformat"):
        return repr(v.isoformat())
    if isinstance(v, bytes):
        return repr(v.hex())
    return repr(v)


def _column(s: pd.Series) -> list[str]:
    """``cell`` over a column, vectorised for the common dtypes."""
    kind = s.dtype.kind
    if kind in "iub":
        return s.astype(str).tolist()
    if kind == "f":
        return [_float(x) for x in s.tolist()]
    if kind == "M":
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        text = np.datetime_as_string(s.to_numpy(dtype="datetime64[us]"), unit="us")
        return [repr(t[:-7] if t.endswith(".000000") else t) for t in text.tolist()]
    return [cell(v) for v in s.tolist()]


def fingerprint(pdf: pd.DataFrame) -> dict:
    """Row count plus a hash of the order-insensitive canonical rows
    (columns sorted by name, cells as ``cell`` renders them)."""
    cols = sorted(pdf.columns)
    rows = sorted(map("\x1f".join, zip(*(_column(pdf[c]) for c in cols))))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(pdf), "hash": h.hexdigest()[:16]}


def check(expected: dict | None, got: dict) -> bool:
    """A key passes when its fingerprint matches the stored one; keys
    stored without a hash are checked on row count only."""
    if expected is None:
        return False
    if expected.get("hash") is None:
        return expected["rows"] == got["rows"]
    return expected["rows"] == got["rows"] and expected["hash"] == got["hash"]
