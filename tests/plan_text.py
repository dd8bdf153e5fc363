"""Helpers that read optimized-plan strings."""

from __future__ import annotations


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def call_bodies(plan: str, head: str) -> list[str]:
    """Each ``head…)`` call in a plan string, parentheses balanced."""
    out = []
    start = plan.find(head)
    while start >= 0:
        depth = 0
        for k in range(plan.index("(", start), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            if depth == 0:
                break
        out.append(plan[start : k + 1])
        start = plan.find(head, start + 1)
    return out
