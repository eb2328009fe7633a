"""The oracle comparison's canonical form (tests/parity.py)."""

from __future__ import annotations

import pandas as pd

from tests.parity import canonical_rows


def test_canonical_rows_keeps_integers_in_all_numeric_frames():
    """An all-numeric frame must canonicalize each int64 cell as an
    integer: a per-row ``iloc`` read upcast the row to float64, which
    printed 7 as '7.0' and rounded 2**53 + 1 to 9007199254740992."""
    df = pd.DataFrame({"a": [2**53 + 1, 7], "b": [0.5, 1.0]})
    assert canonical_rows(df) == [
        ("7", "1.0"),
        ("9007199254740993", "0.5"),
    ]
