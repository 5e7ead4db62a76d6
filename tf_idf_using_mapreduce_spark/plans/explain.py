"""Physical-plan introspection helpers — the engine's guardrails that the
declarative plans actually lower to the physical shapes the 100 TB design
calls for (SURVEY.md §4). Used by tests and by ``tools/plan_report.py``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanFacts:
    broadcast_joins: int = 0
    shuffle_exchanges: int = 0
    sort_merge_joins: int = 0
    python_evals: int = 0
    take_ordered: bool = False
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[list[str]] = field(default_factory=list)


def analyze(df: DataFrame) -> PlanFacts:
    s = plan_string(df)
    facts = PlanFacts(
        broadcast_joins=s.count("BroadcastHashJoin"),
        shuffle_exchanges=s.count("Exchange hashpartitioning"),
        sort_merge_joins=s.count("SortMergeJoin"),
        python_evals=s.count("EvalPython"),
        take_ordered="TakeOrderedAndProject" in s,
    )
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", s):
        if m.group(1).strip():
            facts.pushed_filters.append(m.group(1))
    for m in re.finditer(r"ReadSchema: struct<([^\n>]*)", s):
        facts.read_schemas.append(
            [c.split(":")[0] for c in m.group(1).split(",") if ":" in c]
        )
    return facts
