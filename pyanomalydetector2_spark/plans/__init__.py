"""Plan-inspection helpers: assert the physical plan is the plan we want
(SURVEY §4 — pushdown, pruning, broadcast, codegen). Used by the
plan-shape tests to keep regressions visible."""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert the parquet scan received pushed filters mentioning each
    fragment (column name, usually)."""
    plan = explain_formatted(df)
    assert "PushedFilters" in plan, plan
    for frag in fragments:
        assert any(
            frag in line
            for line in plan.splitlines()
            if "PushedFilters" in line
        ), f"filter on {frag!r} not pushed:\n{plan}"


def assert_read_schema_only(df: DataFrame, *columns: str) -> None:
    """Assert the scan reads ONLY the given columns (column pruning)."""
    plan = explain_formatted(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:")[1].strip()
            inner = schema[schema.index("<") + 1 : schema.rindex(">")]
            read_cols = {
                c.split(":")[0].strip() for c in inner.split(",") if c.strip()
            }
            assert read_cols <= set(columns), (
                f"scan reads {read_cols - set(columns)} beyond {columns}\n{plan}"
            )
            return
    raise AssertionError(f"no ReadSchema in plan:\n{plan}")


def audit_plan(df: DataFrame, execute: bool = True) -> dict:
    """Structured audit of the FINAL physical plan (shared by
    tests/test_plans_contract.py). With
    ``execute=True`` the DataFrame is collected first so AQE finalizes its
    adaptive plan — codegen markers and runtime join-strategy switches
    only appear in the final plan of the executed instance."""
    import re

    if execute:
        df.collect()
    # an executed AQE plan prints the FINAL plan followed by the pre-AQE
    # "Initial Plan" — count only the final section or everything doubles
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    fmt = explain_formatted(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fmt)
    return {
        "shuffles": plan.count("Exchange hashpartitioning"),
        "broadcasts": plan.count("BroadcastHashJoin"),
        "sorts_global": plan.count("Exchange rangepartitioning"),
        # a shuffle-based cartesian is ALWAYS a regression; a broadcast
        # nested-loop join is bounded by its broadcast side and is the
        # legitimate shape for tiny-literal grids / brute-force baselines —
        # reported separately so gates can allow it where intended
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_nodes": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "pushed": [p for p in pushed if p],
        "scan_cols": [len(s.split(",")) for s in schemas],
    }
