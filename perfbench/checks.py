"""Result fingerprints, the benchmark's output comparison.

A fingerprint is a SHA-256 over a query result rendered by the rules of
the repository's DuckDB-oracle parity check (``tests/parity.py``):
columns by name, rows as a multiset, floats compared exactly, an integer
never equal to a float, dates and timestamps as naive timestamps, list
cells element by element. The ETL check compares the fingerprints of
two Spark results; ``fingerprints.json`` holds the fingerprints
of the DuckDB oracle's results at sf0.1; ``make_fingerprints.py``
regenerates it and confirms that Spark's results match.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd

PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "N"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "N"
        return f"f:{f + 0.0!r}"  # + 0.0 folds -0.0 into 0.0, as == does
    if isinstance(v, (datetime.date, np.datetime64)):  # datetime, Timestamp too
        return f"t:{pd.Timestamp(v).tz_localize(None).isoformat()}"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    return f"s:{v}"


def _column(s: pd.Series) -> list[str]:
    """``_cell`` of every value of a column. Numpy integer, bool and
    float columns hold no nulls but NaN and take a fast path; datetime
    columns render each distinct value once."""
    if isinstance(s.dtype, np.dtype) and s.dtype.kind in "iub":
        prefix = "b" if s.dtype.kind == "b" else "i"
        return [f"{prefix}:{v}" for v in s.tolist()]
    if isinstance(s.dtype, np.dtype) and s.dtype.kind == "f":
        return ["N" if v != v else f"f:{v + 0.0!r}" for v in s.tolist()]
    if s.dtype.kind == "M":
        memo: dict = {}
        return [memo[v] if v in memo else memo.setdefault(v, _cell(v)) for v in s]
    return [_cell(v) for v in s]


def fingerprint(df: pd.DataFrame) -> str:
    """Order-independent digest of a result frame."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(r) for r in zip(*(_column(df[c]) for c in cols)))
    h = hashlib.sha256()
    h.update(("\x1f".join(cols) + f"\x1e{len(rows)}\x1e").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def load_fingerprints() -> dict[str, str]:
    with open(PATH) as f:
        return json.load(f)["fingerprints"]
