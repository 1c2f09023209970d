"""Canonical, bit-exact form of a result's row multiset (floats as their
shortest round-trip repr, no rounding), shared by ``tools/check_oracle.py``,
the differential fuzzers and ``tools/ab.py``. Committed oracle digests
depend on these bytes."""

from __future__ import annotations

import hashlib
import math


def norm_cell(v) -> str:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr() is the shortest string that round-trips the exact double:
        # bit-exact, no tolerance.
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def norm_rows(cols, rows) -> list[str]:
    """Rows as sorted ``|``-joined canonical cells, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def digest(norm) -> str:
    """12-hex md5 of ``norm_rows`` output, one line per row."""
    h = hashlib.md5()
    for line in norm:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()[:12]
