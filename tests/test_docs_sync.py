"""Docs-vs-registry sync (round-10 verdict item 3).

Hand-maintained counts drifted twice (COVERAGE.md said "186" for two
rounds while the registry was 192 — the same failure mode the driver
window had before tools/rotate_window.py). These tests derive the truth
from ``data_table_spark.queries.QUERIES`` and fail the suite if a doc
count drifts again. No SparkSession needed.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _registry():
    from data_table_spark.queries import QUERIES

    return QUERIES


def test_coverage_md_count_matches_registry():
    n = len(_registry())
    head = (REPO / "COVERAGE.md").read_text()[:500]
    m = re.search(r"(\d+) driver queries", head)
    assert m, "COVERAGE.md must state the driver-query count in its header"
    assert int(m.group(1)) == n, (
        f"COVERAGE.md says {m.group(1)} driver queries; registry has {n} "
        "— regenerate the doc header"
    )


def test_readme_count_matches_registry():
    n = len(_registry())
    text = (REPO / "README.md").read_text()
    m = re.search(r"(\d+) queries, ALL oracle-checked", text)
    assert m, "README.md must state the oracle-checked query count"
    assert int(m.group(1)) == n


def test_every_query_named_in_coverage_or_registry_families():
    """Every registry query name appears somewhere in COVERAGE.md (the
    inventory's Query column), so the doc can't silently omit a family."""
    names = set(_registry())
    text = (REPO / "COVERAGE.md").read_text()
    missing = sorted(q for q in names if q not in text)
    assert not missing, f"COVERAGE.md does not mention: {missing}"


def test_oracle_coverage_complete():
    """Every queries() entry has an oracle_sql() twin (the driver's
    hash-compare gate), except documented non-SQL-expressible ops."""
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert q == set(_registry())
    assert o <= q
    assert not (q - o), f"queries without oracles: {sorted(q - o)}"


def test_driver_window_is_fifty_registered_names():
    """The driver's correctness gate reads the FIRST 50 entries of
    ``queries()``: ``_PRIORITY`` must fill all of them with distinct
    registered names (a stale or unregistered name silently shrinks the
    window — regenerate it with tools/rotate_window.py)."""
    import sys

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    window = entry._PRIORITY
    assert len(window) == 50, len(window)
    assert len(set(window)) == 50, "duplicate names in _PRIORITY"
    missing = [q for q in window if q not in _registry()]
    assert not missing, f"unregistered names in _PRIORITY: {missing}"
