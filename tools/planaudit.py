"""Compact physical-plan audit: for each registered query, in q-number
order, execute it and summarize the FINAL adaptive plan — join strategies
chosen, shuffle count, filters pushed into scans, codegen spans. The
human-readable companion to tests/test_plan_quality.py.

Usage: python tools/planaudit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def audit(name: str, df) -> str:
    # Execute the DataFrame's OWN query execution (a noop write would spawn
    # a separate one, leaving df's plan at isFinalPlan=false — the initial,
    # pre-AQE physical plan with no runtime join/partition choices).
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Scalar-subquery subtrees may print their cached pre-execution
    # AdaptiveSparkPlan (isFinalPlan=false) even after running — only the
    # TOP-LEVEL plan's finality proves AQE's runtime choices are shown.
    top = next(
        (ln for ln in plan.splitlines() if "AdaptiveSparkPlan" in ln), None
    )
    # A missing AdaptiveSparkPlan line must FAIL, not vacuously pass: it
    # means AQE was disabled or the plan shape changed, and the audit
    # would otherwise silently describe a pre-AQE plan (ADVICE r5).
    assert top is not None, f"{name}: no AdaptiveSparkPlan in executed plan"
    assert "isFinalPlan=true" in top, f"{name}: top plan not final: {top}"
    # AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan" section;
    # audit only what actually ran.
    plan = plan.split("== Initial Plan ==")[0]
    joins = [j for j in _JOINS for _ in range(plan.count(j))]
    n_exchange = len(re.findall(r"Exchange (?:hash|range|single)partition", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    n_pushed = sum(1 for p in pushed if p.strip())
    n_codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    flags = []
    if "CartesianProduct" in joins:
        flags.append("!! CARTESIAN")
    if "InMemoryTableScan" in plan:
        flags.append("cached")
    return (
        f"{name:32s} shuffles={n_exchange:2d}  codegen_spans={n_codegen:2d}  "
        f"pushed_filter_scans={n_pushed}  joins=[{', '.join(joins) or '-'}]"
        + ("  " + " ".join(flags) if flags else "")
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from airflow_spotify_etl_spark.plans import all_queries
    from airflow_spotify_etl_spark.session import get_spark
    from bench import query_names

    spark = get_spark("planaudit")
    qs = all_queries()
    for name in [n for n in query_names() if not only or n in only]:
        try:
            print(audit(name, qs[name](spark, sf_dir)))
        except Exception as ex:  # noqa: BLE001
            print(f"{name:32s} ERROR {type(ex).__name__}: {ex}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
