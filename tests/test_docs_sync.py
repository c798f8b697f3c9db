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


def test_slow_list_names_existing_tests():
    """Every id in tests/slow_tests.txt names a test function that
    exists. The conftest hook matches ids by string, so a renamed or
    deleted slow test would otherwise silently lose its `slow` marker
    and rejoin the default run."""
    import ast

    missing = []
    for ln in (REPO / "tests" / "slow_tests.txt").read_text().splitlines():
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        path, func = ln.split("::", 1)
        func = func.split("[", 1)[0]
        src = REPO / path
        defined = src.is_file() and func in {
            node.name
            for node in ast.parse(src.read_text()).body
            if isinstance(node, ast.FunctionDef)
        }
        if not defined:
            missing.append(ln)
    assert not missing, f"slow_tests.txt names no such test: {missing}"
