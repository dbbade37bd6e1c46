"""The suite must test the checkout it lives in (no Spark needed)."""

from __future__ import annotations

from pathlib import Path

import ekuiper_spark


def test_suite_imports_its_own_checkout():
    # a hard-coded sys.path entry would silently test another copy when
    # the suite runs from a second checkout (A/B runs, scratch copies)
    checkout = Path(__file__).resolve().parents[1]
    assert Path(ekuiper_spark.__file__).resolve().is_relative_to(checkout)
