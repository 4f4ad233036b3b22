"""Plan introspection + scale assertions.

The reference hand-built its physical planning (SURVEY §3.1 steps 6-8);
here Catalyst owns it, and this module is how we *verify* the plans we
get are the plans a 100 TB run needs: filters pushed into scans,
columns pruned, broadcasts where expected, no stray cartesian products.
Used by tests/test_plans.py and tools/gen_plan_fingerprints.py;
``formatted_plan(df)`` prints one query's full formatted plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment appears in a PushedFilters clause."""
    plan = formatted_plan(df)
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    joined = "\n".join(pushed)
    for frag in fragments:
        assert frag in joined, f"filter {frag!r} not pushed; PushedFilters: {joined}"


def assert_read_schema_only(df: DataFrame, table_fragment: str, *cols: str) -> None:
    """Assert the ``table_fragment`` scan's ReadSchema is exactly ``cols``
    — i.e. column pruning reached the reader, no extra columns are
    decoded. Matches the scan's own detail block (formatted explain
    groups Location/PushedFilters/ReadSchema per node), so other scans
    in the same plan can't mask a pruning failure."""
    import re

    plan = formatted_plan(df)
    for block in plan.split("\n\n"):
        if table_fragment not in block:
            continue
        m = re.search(r"ReadSchema: struct<(.*)>", block)
        if not m:
            continue
        inner = m.group(1)
        assert "more fields" not in inner, (
            "ReadSchema truncated (spark.sql.debug.maxToStringFields) — "
            "raise the conf before asserting on this scan"
        )
        # top-level field names only: split on commas at angle-bracket /
        # paren depth 0 so nested struct<a:int,b:int> or decimal(12,2)
        # component names are not miscounted as scan columns
        got, depth, start = set(), 0, 0
        for idx, ch in enumerate(inner + ","):
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            elif ch == "," and depth == 0:
                field = inner[start:idx]
                got.add(field.split(":", 1)[0].strip())
                start = idx + 1
        got.discard("")
        assert got == set(cols), (
            f"{table_fragment} scan reads {sorted(got)}, "
            f"expected exactly {sorted(cols)}"
        )
        return
    raise AssertionError(
        f"no ReadSchema block for {table_fragment!r} in plan:\n{plan}"
    )


def assert_broadcast_join(df: DataFrame, expect: bool = True) -> None:
    plan = physical_plan(df)
    has = "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert has == expect, f"broadcast={has}, expected {expect}:\n{plan[:2000]}"


def count_shuffles(df: DataFrame) -> int:
    """Number of SHUFFLE Exchange operators in the physical plan — the
    metric that matters at 100 TB. Broadcast exchanges (dimension ships
    to every executor, no repartition of the big side) and reused
    exchanges are not counted."""
    plan = physical_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
    )


def assert_no_cartesian(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, f"unexpected cartesian:\n{plan[:2000]}"
