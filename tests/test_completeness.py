"""Mechanical registry-completeness gates (VERDICT r5 item 5).

Every query registered in __spark_entry__.queries() must carry its full
evidence chain: a DuckDB oracle, a COVERAGE.md row and a PLANS.md note.
These meta-tests make such gaps impossible to reintroduce silently.
bench.py runs the registry itself, so every query is benched by
construction. No SparkSession is needed — everything is registry/file
introspection.
"""

from __future__ import annotations

import re
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parent.parent

# Queries deliberately without a SQL oracle (driver records a weaker
# rows-only check). Keep this list EXPLICIT — additions need a reason.
ROWS_ONLY_OK: set[str] = set()


def _qnum(name: str) -> str:
    return re.match(r"(q\d+)_", name).group(1)


def test_every_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    missing = sorted(set(qs) - set(oracles) - ROWS_ONLY_OK)
    assert not missing, f"queries without oracle_sql(): {missing}"
    orphans = sorted(set(oracles) - set(qs))
    assert not orphans, f"oracles without queries(): {orphans}"


def test_every_query_has_a_coverage_row():
    text = (REPO / "COVERAGE.md").read_text()
    mentioned = set(re.findall(r"\bq\d+", text))
    missing = sorted(
        {n for n in entry.queries() if _qnum(n) not in mentioned},
        key=lambda n: int(_qnum(n)[1:]),
    )
    assert not missing, f"queries without a COVERAGE.md mention: {missing}"


def test_every_query_has_a_plans_note():
    text = (REPO / "PLANS.md").read_text()
    mentioned = set(re.findall(r"\bq\d+", text))
    missing = sorted(
        {n for n in entry.queries() if _qnum(n) not in mentioned},
        key=lambda n: int(_qnum(n)[1:]),
    )
    assert not missing, f"queries without a PLANS.md note: {missing}"
