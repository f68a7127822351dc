"""Order-insensitive result comparison, after the rules of tools/check.py:
columns are matched by name, rows are sorted on a canonical key, and
cells are compared exactly, falling back to 1e-9 relative tolerance for
floats.  Two differences from that tool:

* a float also matches when it is within one unit of the last decimal
  place shown by the more precise of the two values, if that value shows
  at least two decimals.  A ``ROUND(AVG(x), 4)`` whose exact value lies on
  a half rounds either way depending on the order each engine summed in,
  and generated inputs hit such halves on some seeds;
* results collected through pandas cannot tell a null double from NaN,
  so NaN and null compare equal.
"""

from __future__ import annotations

import datetime
import math


def _cell(v):
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (list, tuple, str, bytes)):
        if getattr(v, "ndim", 0):  # numpy array cell
            return tuple(_cell(x) for x in v.tolist())
        v = v.item() if not hasattr(v, "to_pydatetime") else v.to_pydatetime()
    elif hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if v != v:  # NaN, NaT
        return None
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.replace(tzinfo=None)
    return v


def _key(v):
    if v is None:
        return (3, "")
    if isinstance(v, bool):
        return (0, float(v))
    if isinstance(v, (int, float)):
        return (0, float(v))
    return (1, str(v))


def _sorted(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(_key(x) for x in t))


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        places = max(_decimals(a), _decimals(b))
        return (math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                or (places >= 2 and abs(a - b) <= 10.0 ** -places * 1.000001))
    return a == b


def _decimals(x: float) -> int:
    """Decimal places ``repr(x)`` shows (0 when it uses an exponent)."""
    r = repr(x)
    return 0 if "e" in r or "." not in r else len(r.split(".")[1])


def rows_of_frame(df):
    """(column names, row tuples) of a pandas DataFrame."""
    return list(df.columns), list(df.itertuples(index=False, name=None))


def compare(got_cols, got_rows, exp_cols, exp_rows) -> str | None:
    """None when the results agree, else a one-line description."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} vs oracle {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"{len(got_rows)} rows vs oracle {len(exp_rows)}"
    g, e = _sorted(got_rows, got_cols), _sorted(exp_rows, exp_cols)
    for i, (a, b) in enumerate(zip(g, e)):
        if a != b and not _close(a, b):
            return f"row {i} differs: {a!r} vs oracle {b!r}"
    return None
