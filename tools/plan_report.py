"""Generate PLANS.md: the physical plan audit for every registry query.

For each query: join strategies, exchange count, parquet pushdown
evidence (PushedFilters / ReadSchema), and whole-stage-codegen span
count — the ".explain and iterate" artifact. Run after changing any
operator: ``python tools/plan_report.py [sf_dir]``.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from neo4j_arrow_spark.queries import queries
    from neo4j_arrow_spark.session import get_session

    spark = get_session("plan-report")
    lines = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_report.py)",
        "",
        f"Plans taken at `{sf_dir}` with AQE enabled (initial plans — AQE may",
        "re-plan joins at runtime based on observed sizes; broadcast decisions",
        "below are therefore the *minimum* quality, not the final one).",
        "",
        "| query | joins | exchanges | windows | pushed-filter scans | WSCG spans | notes |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, fn in sorted(queries().items()):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        joins = []
        for marker, label in [
            ("BroadcastHashJoin", "broadcast-hash"),
            ("SortMergeJoin", "sort-merge"),
            ("ShuffledHashJoin", "shuffled-hash"),
            ("BroadcastNestedLoopJoin", "broadcast-NL"),
            ("CartesianProduct", "cartesian"),
        ]:
            n = plan.count(marker)
            if n:
                joins.append(f"{label}×{n}")
        n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
        # Window operators: relationship identity is a stored REL_ID
        # column, so no plan computes it; a Window here comes from the
        # query itself (row_number, windowed aggregates)
        n_win = len(re.findall(r"\bWindow\b", plan))
        pushed = [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        notes = []
        if "InMemoryTableScan" in plan:
            notes.append("persisted subframe")
        if "FlatMapCoGroupsInPandas" in plan or "MapInPandas" in plan:
            notes.append("pandas kernel")
        lines.append(
            f"| {name} | {', '.join(joins) or '—'} | {n_ex} | {n_win} | "
            f"{len(pushed)} | {wscg} | {', '.join(notes) or ''} |"
        )
        spark.catalog.clearCache()

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines) - 7} queries)")


if __name__ == "__main__":
    main()
