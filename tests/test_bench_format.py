"""bench.py's compact final-line values stay within 5 JSON chars."""

from __future__ import annotations

import json

import pytest

from bench import _compact_val


@pytest.mark.parametrize(
    "v, want",
    [
        (0.12345, 0.12),
        (99.994, 99.99),
        (99.996, 100.0),
        (999.94, 999.9),
        (999.95, 1000),
        (999.99, 1000),
        (1234.5, 1234),
    ],
)
def test_compact_val_boundaries(v, want):
    got = _compact_val(v)
    assert got == want
    assert len(json.dumps(got)) <= 5
