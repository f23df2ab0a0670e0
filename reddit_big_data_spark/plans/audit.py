"""One walker over a DataFrame's physical plan, and the multi-consumer
recompute audit built on it.

``plan_nodes(df)`` yields every node of the plan that will run, read
from the JVM ``SparkPlan`` tree rather than from its ``toString()``
rendering. The rendering is a display format, not a data structure:
branch heads print without a depth marker, AQE appends an
'== Initial Plan ==' copy of each adaptive subtree, and an
InMemoryRelation prints its cached build plan with an indentation
context of its own, so any depth-based parse of it misplaces nodes. The
tree has none of these problems: an adaptive plan's current physical
plan, a query stage's plan and an InMemoryTableScanExec's cached build
plan are all fields, and subquery plans hang off expressions, so the
walker reaches each one explicitly and knows which of them it is in.
The plan lint (plans/lint.py) checks node classes and fields on the same
walk.

``live_file_scans`` counts the parquet scans that will actually re-read
(and re-derive everything above) at execution time. Spark re-executes a
shared subtree once per consumer unless it is persisted or checkpointed,
the most common silent performance bug in this package, so the sweep in
tests/test_plan_lint.py pins every registered query's live-scan counts
(allowances in tests/test_scan_audit.py) and a new consumer of an
unpersisted expensive subtree fails CI instead of shipping a 2x query.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any, NamedTuple

from pyspark.sql import DataFrame

_TABLE_RE = re.compile(r"/(\w+)\.parquet")

# A ReusedExchange / ReusedSubquery re-serves the output of a stage the
# walk reaches elsewhere; its child is that stage again, not new work.
_REUSED = ("ReusedExchangeExec", "ReusedSubqueryExec")


class PlanNode(NamedTuple):
    name: str  # the JVM class's simple name, e.g. "SortExec"
    node: Any  # the py4j handle of the SparkPlan node
    in_subquery: bool  # reached through an expression's subquery plan
    cached: bool  # inside an InMemoryRelation's cached build plan


def plan_nodes(df: DataFrame) -> Iterator[PlanNode]:
    """Every node of the DataFrame's executed physical plan, parents
    before their children. A subquery executes once however many
    expressions reference it (one name, several SubqueryExec instances),
    so each named subquery is walked once per cached/live context. A
    cached build plan fills once however many scans read it, and nested
    persisted frames re-reference each other's caches, so each build plan
    is walked once per subquery context too (by JVM identity)."""
    identity = df.sparkSession.sparkContext._jvm.System.identityHashCode
    seen_subqueries: set[tuple[str, bool]] = set()
    seen_cached: set[tuple[int, bool]] = set()
    stack = [(df._jdf.queryExecution().executedPlan(), False, False)]
    while stack:
        node, in_subquery, cached = stack.pop()
        name = node.getClass().getSimpleName()
        yield PlanNode(name, node, in_subquery, cached)
        subqueries = node.subqueries()
        for i in range(subqueries.size()):
            s = subqueries.apply(i)
            try:
                key = (s.name(), cached)
            except Exception:  # pragma: no cover - non-named subquery plan
                key = (s.toString().splitlines()[0], cached)
            if key not in seen_subqueries:
                seen_subqueries.add(key)
                stack.append((s, True, cached))
        if name == "AdaptiveSparkPlanExec":
            # current physical plan before execution, final plan after
            stack.append((node.executedPlan(), in_subquery, cached))
        elif name.endswith("QueryStageExec"):
            stack.append((node.plan(), in_subquery, cached))
        elif name == "InMemoryTableScanExec":
            plan = node.relation().cachedPlan()
            key = (identity(plan), in_subquery)
            if key not in seen_cached:
                seen_cached.add(key)
                stack.append((plan, in_subquery, True))
        elif name not in _REUSED:
            children = node.children()
            for i in reversed(range(children.size())):
                stack.append((children.apply(i), in_subquery, cached))


def live_file_scans(df: DataFrame) -> dict[str, int]:
    """table name -> number of LIVE FileScans in the physical plan:
    scans inside a cached InMemoryRelation's build plan are excluded,
    subquery plans included (once per logical subquery)."""
    counts: dict[str, int] = {}
    for n in plan_nodes(df):
        if n.name == "FileSourceScanExec" and not n.cached:
            paths = n.node.relation().location().rootPaths()
            m = _TABLE_RE.search(paths.apply(0).toString() if paths.size() else "")
            t = m.group(1) if m else "other"
            counts[t] = counts.get(t, 0) + 1
    return counts
