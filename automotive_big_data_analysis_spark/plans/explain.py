"""Physical-plan introspection.

Scale discipline is only real if it is observable: these helpers parse the
executed plan string so tests (and ``scripts/audit_plans.py``'s plan
inventory) can assert that a query's plan has the shape intended for the
100 TB layout — filters reached the parquet scan, projections pruned
columns, small dimensions broadcast, shuffles are few.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` as a string. Unlike ``toString`` (which
    elides long expressions), the formatted mode prints every operator's
    FULL condition/projection — required when asserting what a Filter
    actually evaluates."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def filters_containing(df: DataFrame, needle: str) -> int:
    """How many Filter operators in the plan evaluate a CONDITION
    containing ``needle``. Guard against Catalyst's inferred-from-Generate
    filters re-inlining an expensive staged pipeline (tokenizer regexp,
    from_json) into a per-row pre-shuffle filter.

    Only the block's ``Condition :`` line is searched — the Input/Output
    attribute lists would false-positive on any attribute whose *name*
    contains the needle even when the filter never evaluates it."""
    count = 0
    for block in formatted_plan(df).split("\n\n"):
        lines = block.strip().splitlines()
        if not lines or ") Filter" not in lines[0]:
            continue
        cond = "\n".join(
            ln for ln in lines if ln.lstrip().startswith("Condition")
        )
        if needle in cond:
            count += 1
    return count


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists appearing in the plan's parquet scans."""
    return re.findall(r"PushedFilters: \[([^\]\n]*)", physical_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — what actually gets read off parquet."""
    return re.findall(r"ReadSchema: ([^\n]*)", physical_plan(df))


def broadcast_join_count(df: DataFrame) -> int:
    """Broadcast joins of either kind (hash for equi, nested-loop for
    non-equi predicates like kNN's vec_id != query_id)."""
    plan = physical_plan(df)
    return plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")


def shuffle_count(df: DataFrame) -> int:
    """Exchange operators in the plan (AQE may later coalesce them)."""
    return len(re.findall(r"Exchange (?:hash|range|single)", physical_plan(df)))


def window_specs(df: DataFrame) -> list[str]:
    """Every ``windowspecdefinition(...)`` argument list in the plan."""
    return re.findall(r"windowspecdefinition\(([^)]*)", physical_plan(df))


def unpartitioned_window_specs(df: DataFrame) -> list[str]:
    """Window specs with an EMPTY partition clause — the single-partition
    global sort that kills fact-scale plans at 100 TB. In a spec's
    argument list the partition columns come first and carry no sort
    direction, so a spec whose FIRST argument is already a sort key
    (``ASC``/``DESC``) has no partitioning. Specs over provably tiny
    relations (bucket-count aggregates, per-day rollups) are legitimate —
    callers assert on what the spec ORDERS BY to allow those."""
    out = []
    for spec in window_specs(df):
        first = spec.split(",")[0]
        if " ASC" in first or " DESC" in first:
            out.append(spec)
    return out


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when the plan splits aggregation into partial/final (map-side
    combine before the shuffle)."""
    plan = physical_plan(df)
    return "partial_" in plan or bool(
        re.search(r"HashAggregate\(keys=.*functions=\[partial", plan)
    )


def whole_stage_codegen_spans(df: DataFrame) -> int:
    return len(set(re.findall(r"\*\((\d+)\)", physical_plan(df))))


def plan_report(df: DataFrame) -> dict:
    """One-line-able summary: the per-query plan inventory that
    ``scripts/audit_plans.py`` records."""
    return {
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schemas(df),
        "broadcast_joins": broadcast_join_count(df),
        "shuffles": shuffle_count(df),
        "codegen_spans": whole_stage_codegen_spans(df),
    }
