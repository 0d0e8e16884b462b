"""Plan-inspection helpers: the engine's substitute for reading a
custom planner's source (SURVEY.md §3) — assertions about Catalyst's
output become part of the spec (tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text (verbose operator list + codegen ids)."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE if executed) physical plan string."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    ]


def read_schemas(df: DataFrame) -> list[str]:
    return [
        line.strip() for line in formatted_plan(df).splitlines() if "ReadSchema" in line
    ]


def partition_filters(df: DataFrame) -> list[str]:
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PartitionFilters" in line
    ]


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries in the plan — the scale currency."""
    return formatted_plan(df).count("Exchange")


_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec", "ResultQueryStageExec")
# reused exchanges and cached relations print their source subtree but
# run none of it again, so the walk neither counts nor enters them
_NOT_ENTERED = (
    "ReusedExchangeExec",
    "ReusedSubqueryExec",
    "InMemoryTableScanExec",
    "TableCacheQueryStageExec",
)


def exchange_nodes(df: DataFrame) -> dict:
    """Shuffle and broadcast exchanges of the executed plan, counted as
    nodes of its tree: {"shuffle": n, "broadcast": m}. An adaptive
    plan is read at its current state (the initial plan before the
    frame runs, the final one after) with its query stages unwrapped,
    and subqueries are entered. Unlike count_exchanges, a cached
    sibling subtree or a reused exchange adds nothing, so the count
    does not depend on what the session ran before.

    A checkpointed leaf is opaque: the exchanges that ran while it was
    built (j_ks_embed's (label, cell) counts, the `_meta1` leaves of the
    six graph qids) sit behind its `LogicalRDD` and are not counted;
    their jobs run at build time and show up as build jobs
    (perfbench's `queries.build_jobs`), not here."""
    out = {"shuffle": 0, "broadcast": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls in _STAGE_WRAPPERS:
            stack.append(node.plan())
            continue
        if cls == "ShuffleExchangeExec":
            out["shuffle"] += 1
        elif cls == "BroadcastExchangeExec":
            out["broadcast"] += 1
        elif cls in _NOT_ENTERED:
            continue
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return out
