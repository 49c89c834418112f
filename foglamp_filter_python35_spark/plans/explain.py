"""Plan-shape assertions: the 100 TB posture, made checkable.

Each helper inspects the formatted physical plan for a property that
matters at scale (scan pruning, pushdown, broadcast vs shuffle joins,
partial aggregation, codegen coverage).  Used by tests/test_plan_shapes.py
to keep operator plans from silently regressing into scale hazards —
e.g. a filter that stops reaching the parquet scan, or a dimension join
that starts shuffling the fact table.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out.append(line.removeprefix("PushedFilters:").strip())
    return out


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in p for p in pushed_filters(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — column pruning evidence."""
    return [
        line.strip().removeprefix("ReadSchema:").strip()
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("ReadSchema:")
    ]


def count_occurrences(df: DataFrame, token: str) -> int:
    return formatted_plan(df).count(token)


def uses_broadcast_join(df: DataFrame) -> bool:
    return count_occurrences(df, "BroadcastHashJoin") > 0


def node_count(df: DataFrame, node: str) -> int:
    """Count physical-plan NODES of a type.  The formatted plan prints
    every node twice (tree line + detail header), so a raw substring
    count double-counts; the ``(n) NodeName`` detail header appears
    exactly once per node."""
    import re  # noqa: PLC0415

    return len(
        re.findall(
            rf"^\(\d+\) {re.escape(node)}\b",
            formatted_plan(df),
            flags=re.MULTILINE,
        )
    )


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange nodes in the plan (lower = better, given equal
    semantics)."""
    return node_count(df, "Exchange")


def has_partial_aggregate(df: DataFrame) -> bool:
    """HashAggregate NODES appear in partial+final pairs (map-side
    combine).  Must count nodes — the formatted plan prints each node
    twice (tree + detail), so a substring count is always >= 2 whenever
    any hash aggregate exists and would pass vacuously."""
    return node_count(df, "HashAggregate") >= 2


#: every physical node that evaluates user Python (row-at-a-time, Arrow
#: scalar, grouped map/agg, co-grouped, arrow-native, stateful, UDTF)
_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",  # also matches ...InPandasWithState
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "MapInArrow",  # also matches PythonMapInArrow
    "BatchEvalPythonUDTF",
)


def exchange_input_types(df: DataFrame) -> list[str]:
    """simpleString data types of every column entering any Exchange
    node — the columns that physically cross a shuffle.  Walks the
    pre-AQE physical plan via py4j (the formatted text plan does not
    carry types).

    BUILD-TIME SCOPE ONLY: under AQE this inspects ``initialPlan``, so
    exchanges AQE inserts or rewrites at runtime (skew-join splits,
    runtime repartitions) are invisible — ``binary_crosses_exchange``
    can report no binary shuffle while an AQE-materialized exchange
    still carries one.  For a runtime-accurate answer, run an action
    first and re-walk ``executedPlan()`` (whose AdaptiveSparkPlan
    ``finalPhysicalPlan`` is then populated); the plan-shape tests use
    this helper as a static guard on the declared plan, where the
    build-time view is the intended contract."""
    types: list[str] = []
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        # sparkPlan() has no Exchanges yet (EnsureRequirements runs
        # later); under AQE the requirement-complete tree is initialPlan
        root = root.initialPlan()
    stack = [root]
    while stack:
        node = stack.pop()
        kids = [
            node.children().apply(i) for i in range(node.children().size())
        ]
        if "Exchange" in node.nodeName():
            for kid in kids:
                it = kid.output().iterator()
                while it.hasNext():
                    types.append(it.next().dataType().simpleString())
        stack.extend(kids)
    return types


def binary_crosses_exchange(df: DataFrame) -> bool:
    """True when any binary-typed column is shuffled — the multimodal
    scale hazard the pointer-struct path exists to avoid."""
    return "binary" in exchange_input_types(df)


def is_fully_jvm(df: DataFrame) -> bool:
    """True when no Python-worker evaluation appears in the plan — the
    whole query runs inside the JVM (codegen-eligible)."""
    plan = formatted_plan(df)
    return not any(tok in plan for tok in _PYTHON_NODES)
