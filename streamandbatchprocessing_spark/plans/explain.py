"""Physical-plan inspection helpers.

The 100-TB discipline (SURVEY.md §4, BASELINE.json north star) is only
real if it's checkable: these helpers read the executed plan so tests
can assert that filters reach the parquet scan (PushedFilters), scans
prune columns (ReadSchema), dimension joins actually broadcast, and hot
paths stay inside whole-stage codegen. The reference demonstrates the
same checks manually through the Spark UI (README.md:629-636); here
they are pytest assertions (tests/test_plans.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def static_plan(df: DataFrame) -> str:
    """The STATICALLY planned physical plan (pre-AQE, no job runs):
    analysis + optimization + physical planning only. This is where
    Catalyst's broadcast-vs-shuffle join pick is readable before
    execution — regime gates that must agree with the planner (c18's
    probe-key pick) read this instead of re-deriving the decision from
    a parallel size model."""
    return df._jdf.queryExecution().sparkPlan().toString()  # noqa: SLF001


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every file scan in the plan."""
    plan = executed_plan(df)
    out: list[str] = []
    for match in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(p.strip() for p in match.group(1).split(",") if p.strip())
    return out


def read_schema(df: DataFrame) -> list[str]:
    """ReadSchema struct bodies of every file scan (column-pruning
    check). Plan dumps truncate long lines, so match to end-of-line
    rather than requiring the closing ``>``."""
    plan = executed_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^\n>]*)", plan)]


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def broadcast_hint_subtrees(df: DataFrame) -> list[str]:
    """Tree dumps of every ``ResolvedHint (strategy=broadcast)`` subtree
    in the ANALYZED logical plan — i.e. exactly what the query author
    forced with ``F.broadcast(...)``, before AQE/Catalyst make their own
    (size-aware, safe) choices. Used to police that no fact-sized
    relation ever carries a forced broadcast: at 100 TB such a hint
    overrides the size check and OOMs the executors."""
    out: list[str] = []
    stack = [df._jdf.queryExecution().analyzed()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "ResolvedHint":
            if "broadcast" in node.hints().toString().lower():
                out.append(node.treeString())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — zero means the hot path
    fell out of codegen. Under AQE the codegen-annotated final plan only
    exists after execution, so this runs the query first."""
    # A sink write would spawn its own QueryExecution; collect() runs
    # *this* DataFrame's, so its adaptive plan is finalized in place.
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return len(set(re.findall(r"\*\((\d+)\)", plan))) or len(
        set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    )
