"""Order-independent digest of a query result.

Both sides of every check go through :func:`digest`: the DuckDB oracle (or
the stream operator's reference drain) when ``make_digests.py`` writes
``digests.json``, and the engine's result on every benchmark run. Columns are
taken in name order, every value is brought to one canonical Python form
(floats to 9 significant digits, so summation order cannot flip the
digest), and the sorted row strings are hashed.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def canon(v):
    """One canonical, hashable, printable form per value."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return float(f"{f:.9g}") + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (str, bytes)):
        return v
    if isinstance(v, dict):
        return tuple((str(k), canon(x)) for k, x in sorted(v.items(), key=lambda kv: str(kv[0])))
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return canon(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon(x) for x in v)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def digest(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(canon(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"
