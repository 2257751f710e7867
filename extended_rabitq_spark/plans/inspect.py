"""Physical-plan inspection helpers (SURVEY §4).

The reference hand-fuses its pipeline; our optimizer is Catalyst, so the
engine's performance contract is a set of *plan properties* rather than
hand-written kernels.  These helpers make those properties assertable in
tests and auditable by humans:

- probe joins must broadcast the small side (no shuffle of the index);
- parquet scans must show pushed filters / pruned schemas;
- top-k windows should compile to partial WindowGroupLimit (map-side
  top-k before the exchange, Spark 4);
- query hot paths must stay JVM-side (no Python eval nodes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_tree(df: DataFrame) -> str:
    """Just the operator tree (first block of the formatted plan) — the
    detail section repeats node names and AQE prints initial+final trees,
    which would double-count node-type checks."""
    return physical_plan(df).split("\n\n")[0]


def has_broadcast_join(df: DataFrame) -> bool:
    p = plan_tree(df)
    return "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def has_shuffle_join(df: DataFrame) -> bool:
    p = plan_tree(df)
    return "SortMergeJoin" in p or "ShuffledHashJoin" in p


def pushed_filters(df: DataFrame) -> list[str]:
    return [
        line.strip()
        for line in physical_plan(df).splitlines()
        if "PushedFilters" in line and "PushedFilters: []" not in line
    ]


def has_partial_topk(df: DataFrame) -> bool:
    """Spark 4 partial WindowGroupLimit = map-side top-k before shuffle."""
    p = physical_plan(df)  # 'Partial' mode only shows in the detail section
    return "WindowGroupLimit" in p and "Partial" in p


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Python-in-the-loop nodes (ArrowEvalPython / BatchEvalPython /
    MapInPandas...).  Query hot paths should return [] — build paths
    legitimately contain MapInPandas."""
    return [
        line.strip()
        for line in plan_tree(df).splitlines()
        if any(tag in line for tag in ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas"))
    ]


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (lower = fewer shuffles;
    broadcast exchanges not counted)."""
    return sum(
        1
        for line in plan_tree(df).splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "Reused" not in line
    )


def exchange_column_types(df: DataFrame) -> list[tuple[str, list[str]]]:
    """(node name, output column types) of every exchange — shuffle and
    broadcast — in the physical plan as first planned (AQE's initial
    plan), so a test can assert what crosses the network."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            out = node.output()
            found.append((
                node.nodeName(),
                [out.apply(i).dataType().simpleString() for i in range(out.size())],
            ))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found
