"""Output checks: an order-insensitive digest of a head's result.

Values are normalized by the rule of the repository's oracle-parity
tests (`_norm` in `tests/harness_util.py`): decimals become floats,
floats are rounded to 9 significant digits, timestamps become naive ISO
strings and lists become tuples. Columns are taken in name order and
rows sorted by their `repr`, so neither engine's row or column order
matters.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
TESTS = os.path.join(os.path.dirname(HERE), "tests")


def digest(columns: list[str], rows) -> dict:
    """{"rows": n, "digest": sha256} of `rows` (tuples in `columns` order,
    values as Arrow's `to_pylist` gives them)."""
    if TESTS not in sys.path:
        sys.path.append(TESTS)
    from harness_util import _norm

    idx = [columns.index(c) for c in sorted(columns)]
    norm = sorted((repr(tuple(_norm(r[i]) for i in idx)) for r in rows))
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(norm), "digest": h.hexdigest()}


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def check_ref_elsum(arr) -> str | None:
    """Closed form of the reference workload: 32 summed ones everywhere."""
    import numpy as np

    if arr.shape != (10_000, 1_000) or arr.dtype != np.float64:
        return f"ref_elsum: got {arr.shape} {arr.dtype}"
    if not np.all(arr == 32.0):
        return "ref_elsum: an element is not 32.0"
    return None
