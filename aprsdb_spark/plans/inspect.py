"""Plan-inspection helpers: the engine's substitute for reading a
custom planner's source (SURVEY.md §3) — assertions about Catalyst's
output become part of the spec (tests/test_plans.py).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text (verbose operator list + codegen ids)."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def partition_filters(df: DataFrame) -> list[str]:
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PartitionFilters" in line
    ]


_STAGE_WRAPPERS = (
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "ResultQueryStageExec",
    "TableCacheQueryStageExec",
)
# a reused exchange or subquery prints its source subtree but runs none
# of it again, so the walk neither counts nor enters it
_REUSED = ("ReusedExchangeExec", "ReusedSubqueryExec")


def plan_nodes(df: DataFrame) -> Counter:
    """Class names of the executed plan's nodes, counted as a cold run
    executes them. An adaptive plan is read at its current state (the
    initial plan before the frame runs, the final one after) with its
    query stages unwrapped, and subqueries are entered. Reused
    exchanges and subqueries are not entered. A cached relation is
    entered once per distinct cache builder while its buffers are not
    yet loaded (the first action runs its plan), and not at all once
    they are; a relation the plan reads twice prints its cached plan
    twice but runs it once.

    A checkpointed leaf is opaque: the exchanges that ran while it was
    built (j_ks_embed's (label, cell) counts, the `_meta1` leaves of the
    six graph qids) sit behind its `LogicalRDD` and are not counted;
    their jobs run at build time and show up as build jobs
    (perfbench's `queries.build_jobs`), not here."""
    identity = df.sparkSession._jvm.System.identityHashCode
    out: Counter = Counter()
    entered = set()
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
        out[cls] += 1
        if cls in _REUSED:
            continue
        if cls == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            key = identity(builder)
            if key not in entered and not builder.isCachedColumnBuffersLoaded():
                entered.add(key)
                stack.append(builder.cachedPlan())
            continue
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return out


def exchange_nodes(df: DataFrame) -> dict:
    """Shuffle and broadcast exchanges a cold run of the frame executes,
    counted as plan nodes (`plan_nodes`): {"shuffle": n, "broadcast": m}.
    The count does not depend on what the session ran before, except
    through caches it has already loaded, which run nothing again."""
    nodes = plan_nodes(df)
    return {
        "shuffle": nodes["ShuffleExchangeExec"],
        "broadcast": nodes["BroadcastExchangeExec"],
    }
