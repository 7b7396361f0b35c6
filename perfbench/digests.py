"""Reference digests: a row count plus an order-insensitive value hash
of a query's output.

Cells are canonicalized the way ``tests/conftest.py`` compares Spark
against the DuckDB oracle (sorted columns, sorted rows, floats by
``repr``, timestamps as naive ISO strings), so a Spark output and the
oracle output that the differential test calls equal get the same
digest. The rules are kept here rather than imported, so that moving
test helpers cannot change what the benchmark checks.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
from pathlib import Path

REFERENCE = Path(__file__).resolve().parent / "digests.json"


def canon_cell(v):
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.generic):
        v = v.item()
        if isinstance(v, float) and math.isnan(v):
            return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return tuple(sorted((canon_cell(k), canon_cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_cell(x) for x in v)
    return v


def frame_digest(pdf) -> dict:
    """``{"rows", "sha256"}`` of a pandas frame, independent of row and
    column order."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def load_reference() -> dict:
    with open(REFERENCE) as f:
        return json.load(f)["queries"]
