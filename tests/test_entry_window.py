"""The driver verifies the FIRST 50 entries of ``queries()`` — pin the
round's verification window so a registry edit can't silently rotate a
query out of coverage."""

from __future__ import annotations

import importlib.util
import os

WINDOW = 50
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location("e", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_priority_window_is_exactly_the_driver_budget():
    m = _entry_module()
    assert len(m.VERIFY_PRIORITY) == WINDOW
    assert len(set(m.VERIFY_PRIORITY)) == WINDOW


def test_queries_order_puts_priority_first_and_loses_nothing():
    m = _entry_module()
    q = m.queries()
    assert list(q)[:WINDOW] == m.VERIFY_PRIORITY

    from csv_parquet_s3_spark.operators import QUERIES

    assert set(q) == set(QUERIES)
    assert len(q) == len(QUERIES)


def test_priority_entries_are_oracle_backed():
    """Window slots are scarce: every priority entry must carry an oracle
    (hash check, not rows-only). Since r10 this is the WHOLE registry —
    the last rows-only entry (q_approx_sketches) emits exact quantities
    plus ε-bound booleans the oracle pins TRUE."""
    m = _entry_module()
    oracles = m.oracle_sql()
    missing = [n for n in m.VERIFY_PRIORITY if n not in oracles]
    assert missing == []


def test_registry_fully_oracle_backed():
    """Zero rows-only entries anywhere — every registered query gets the
    strong driver check (row count + schema + value hash)."""
    m = _entry_module()
    assert set(m.queries()) == set(m.oracle_sql())


def test_rotation_tool_prioritizes_unverified_queries():
    """tools/rotate_window.py must put driver-unchecked entries ahead of
    hash-green ones, so each round's window buys maximum new signal."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import rotate_window

    state = rotate_window.classify()
    win = rotate_window.next_window()
    assert len(win) == rotate_window.WINDOW
    # every never-checked query must be in the window (there are < WINDOW)
    unchecked = [n for n, (tier, _) in state.items() if tier == 0]
    if len(unchecked) <= rotate_window.WINDOW:
        assert set(unchecked) <= set(win)
    # nothing hash-green may displace an unchecked or rows-only entry
    greens_in = [n for n in win if state[n][0] == 2]
    weak_out = [n for n, (t, _) in state.items() if t < 2 and n not in win]
    assert not (greens_in and weak_out)
