"""Physical-plan introspection — assert the plan, not just the answer.

SURVEY.md §4: the reference relies on Catalyst for pushdown, pruning, join
strategy, and top-k fusion. These helpers let tests assert each of those
actually happened (`test_plans.py`), and are the tool for the
".explain and iterate until it's the plan you'd want" loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes."""
    return "\n".join(
        line for line in physical_plan(df).splitlines() if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The ReadSchema section(s) — verify column pruning reached the scan."""
    return "\n".join(
        line for line in physical_plan(df).splitlines() if "ReadSchema" in line
    )


#: The tree lines' indent: spaces, and the ``:`` that continues a
#: non-last child's branch, up to (not into) a ``:- `` branch marker.
_INDENT = re.compile(r"(?:[ |]|:(?!-))*")

#: One node of a formatted plan tree: its branch marker, codegen star,
#: name and id (``:- * HashAggregate (4)``), or an AQE section header.
_NODE = re.compile(r"(?:[+:]- )?(?:\* )?(?P<name>== \w+ Plan ==|\w+)(?: \((?P<id>\d+)\))?")


def num_shuffles(df: DataFrame) -> int:
    """Count the shuffle exchanges the plan runs (SURVEY.md §7.2: every P2+
    operator documents its shuffle count — this verifies it). Reads the
    node trees of the formatted plan, the main one and any subquery's, and
    counts each ``Exchange`` node id once. Skipped: BroadcastExchange
    (broadcasts move the small side only, which is exactly the point of
    using them), ReusedExchange, the subtree under an ``InMemoryRelation``
    (a cached plan a call reads, not runs), and AQE's ``Initial Plan``
    section, which the final or current plan listed beside it replaced."""
    ids, in_tree, skip_at = set(), False, None
    for line in physical_plan(df).splitlines():
        if line == "== Physical Plan ==" or line.startswith("Subquery:"):
            in_tree, skip_at = True, None
            continue
        if not line.strip():
            in_tree = False
        if not in_tree:
            continue
        col = _INDENT.match(line).end()
        if skip_at is not None and col > skip_at:
            continue
        skip_at = None
        node = _NODE.match(line, col)
        if node and node["name"] in ("== Initial Plan ==", "InMemoryRelation"):
            skip_at = col
        elif node and node["name"] == "Exchange":
            ids.add(node["id"])
    return len(ids)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees ('codegen' explain mode — the
    formatted mode hides them under an unresolved AdaptiveSparkPlan)."""
    text = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    # Zero case: "Found 0 WholeStageCodegen subtrees."
    # Nonzero: one "== Subtree i / N ... ==" header per compiled subtree.
    m = re.search(r"Found (\d+) WholeStageCodegen", text)
    if m:
        return int(m.group(1))
    return len(re.findall(r"== Subtree \d+ / \d+", text))
