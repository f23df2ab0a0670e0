"""Analyzer-style plan lint (SURVEY.md §4.3): flags the scale
anti-patterns the reference commits — row-at-a-time Python UDFs where
native expressions suffice (reference code/eda/project_eda.py:331-333),
zip-joins, cartesian products — plus the ones 100 TB adds: global
single-partition windows and global sorts that aren't top-k.

Pure Python over the physical-plan tree that plans/audit.py walks: each
check reads a node's class and fields (a Window's partitionSpec, a
Sort's global flag), never the plan's text rendering, so a hazard inside
a cached build plan or a subquery is seen wherever it prints. No
Catalyst extension needed; usable in CI (tests/test_plan_lint.py sweeps
every registered query) and interactively (`lint_plan(df)`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from reddit_big_data_spark.plans.audit import plan_nodes


@dataclass(frozen=True)
class Finding:
    code: str
    detail: str

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"[{self.code}] {self.detail}"


# Nodes that only wrap the user's plan; the root is the first node below
# them (query stages are matched by their "QueryStageExec" suffix).
_WRAPPERS = ("AdaptiveSparkPlanExec", "WholeStageCodegenExec", "InputAdapter")
# Nodes that bound a root sort's input: aggregates collapse the corpus to
# its group count, limits/top-k to a constant. A root sort with one of
# these anywhere beneath it is the trailing oracle-stability orderBy on
# an already-reduced result set (the accepted registry pattern); a root
# sort with NONE of them is a corpus-sized range shuffle and gets its own
# informational code (an exemption for ANY root sort would silently pass
# an interactive full-corpus orderBy).
_BOUNDING_NODES = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
)


def lint_plan(df: DataFrame, allow: set[str] = frozenset()) -> list[Finding]:
    """Return scale-hazard findings for the DataFrame's executed plan.

    allow: finding codes accepted for this query (e.g. GLOBAL_SORT on an
    oracle query whose final orderBy exists only for comparison, or
    GLOBAL_WINDOW when the window input is a pre-aggregated tiny table).
    """
    nodes = list(plan_nodes(df))
    names = [n.name for n in nodes]
    findings: list[Finding] = []

    def add(code: str, detail: str) -> None:
        if code not in allow:
            findings.append(Finding(code, detail))

    if "CartesianProductExec" in names:
        add("CARTESIAN", "CartesianProduct join — O(n*m) pair explosion")
    if "BroadcastNestedLoopJoinExec" in names:
        add("NESTED_LOOP", "BroadcastNestedLoopJoin — non-equi join fallback")
    if any(n.startswith("BatchEvalPython") for n in names):
        add("PY_UDF", "row-at-a-time Python UDF — blocks codegen, forks workers")
    # Arrow-batched Python is the sanctioned escape hatch but still worth
    # surfacing: it should be deliberate, not accidental. The prefix also
    # matches the Arrow-optimized UDTF node (ArrowEvalPythonUDTFExec).
    if any(n.startswith("ArrowEvalPython") or "MapInPandas" in n for n in names):
        add("PY_ARROW", "Arrow-batched Python stage (deliberate use only)")
    # A Window whose spec has no partitioning funnels ALL rows into one
    # task; without an ordering it is a whole-frame aggregate, not a
    # single-task sort.
    if any(
        n.name == "WindowExec"
        and n.node.partitionSpec().isEmpty()
        and not n.node.orderSpec().isEmpty()
        for n in nodes
    ):
        add("GLOBAL_WINDOW", "window with empty partitionBy — single-task sort")
    # Global Sort (range-shuffle total order). A global sort at the plan
    # ROOT with an aggregate/limit beneath it is the trailing
    # oracle-stability orderBy every registry query ends with: it sorts
    # exactly the already-reduced result set the caller is about to
    # collect, so its cost is bounded by the result size, not the
    # corpus. A BARE root sort — nothing beneath it that reduces
    # cardinality — is a corpus-sized range shuffle; it gets the
    # informational ROOT_SORT code, distinct from GLOBAL_SORT so the
    # registry sweep can enforce the hazard class strictly while
    # interactive lint users still see the warning. An INTERIOR global
    # sort — feeding further computation — is a genuine full-shuffle
    # hazard. Subquery plans are not the root sort's data input, so an
    # aggregate inside one does not bound it.
    root = next(
        n for n in nodes
        if n.name not in _WRAPPERS and not n.name.endswith("QueryStageExec")
    )
    global_sorts = [
        n for n in nodes if n.name == "SortExec" and getattr(n.node, "global")()
    ]
    if any(n is root for n in global_sorts) and not any(
        n.name.startswith(_BOUNDING_NODES) for n in nodes if not n.in_subquery
    ):
        add(
            "ROOT_SORT",
            "bare global sort at plan root over an unaggregated, "
            "unlimited input — corpus-sized range shuffle",
        )
    if any(n is not root for n in global_sorts):
        add(
            "GLOBAL_SORT",
            "interior global sort without limit — full-shuffle total order",
        )
    return findings
