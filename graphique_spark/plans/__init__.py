"""Physical-plan introspection: the operator counts behind the scale-safety
lint in tests/test_plan_lint.py, which screens every suite query for the
operator shapes that destroy 100 TB runs::

    from graphique_spark import plans

    report = plans.analyze(df)
    report.exchanges          # shuffle count
    report.pushed_filters     # per-scan pushed predicates

What counts as a scale-killer (and why):

* ``CartesianProduct`` — |left| x |right| rows; at 100 TB this is the
  job that never finishes.
* ``BroadcastNestedLoopJoin`` — per-row scan of the broadcast side; fine
  ONLY when the build side is a one-row scalar aggregate.
* ``BatchEvalPython`` — row-at-a-time Python UDF evaluation; 10-100x
  slower than Arrow-batched (``ArrowEvalPython``/``MapInPandas``, which
  are allowed).

Everything is derived from the string form of the executed plan — the
same surface ``df.explain()`` prints — so it works on any DataFrame
without private APIs beyond ``queryExecution``.
"""

from __future__ import annotations

import dataclasses
import re

from pyspark.sql import DataFrame


@dataclasses.dataclass(frozen=True)
class PlanReport:
    """Summary of one DataFrame's executed (post-AQE-planning) plan."""

    exchanges: int
    broadcasts: int
    scans: int
    sort_merge_joins: int
    broadcast_hash_joins: int
    cartesian_products: int
    broadcast_nested_loop_joins: int
    batch_eval_python: int
    arrow_eval_python: int
    codegen_stages: int
    pushed_filters: tuple[str, ...]
    plan: str = dataclasses.field(repr=False, default="")


def plan_string(df: DataFrame) -> str:
    """The executed physical plan as text (what ``explain`` prints)."""
    return df._jdf.queryExecution().executedPlan().toString()


def analyze(df: DataFrame) -> PlanReport:
    """Summarize ``df``'s physical plan. Building the report never runs
    the query — only planning happens (AQE's runtime re-plans may still
    improve on it during execution)."""
    plan = plan_string(df)
    pushed = tuple(
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)
        if m.group(1)
    )
    return PlanReport(
        # every shuffle exchange regardless of partitioning scheme (hash,
        # range, SinglePartition, RoundRobin from repartition(n)/rebalance)
        # — only Broadcast/Reused exchanges are not shuffles. Anchored to
        # the node position at line start: a ReusedExchange line EMBEDS
        # its child's "..., Exchange hashpartitioning(...)" text mid-line,
        # which a bare substring count would double-count
        exchanges=len(
            re.findall(r"(?m)^[-+:*() \d]*Exchange \w*[Pp]artition", plan)
        ),
        broadcasts=len(re.findall(r"(?m)^[-+:*() \d]*BroadcastExchange", plan)),
        # one pattern: "FileScan parquet" CONTAINS "Scan parquet", so two
        # separate counts would double-count every file scan
        scans=len(re.findall(r"(?:File)?Scan parquet", plan)),
        sort_merge_joins=plan.count("SortMergeJoin"),
        broadcast_hash_joins=plan.count("BroadcastHashJoin"),
        cartesian_products=plan.count("CartesianProduct"),
        broadcast_nested_loop_joins=plan.count("BroadcastNestedLoopJoin"),
        batch_eval_python=plan.count("BatchEvalPython"),
        arrow_eval_python=plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        codegen_stages=len(set(re.findall(r"\*\((\d+)\)", plan))),
        pushed_filters=pushed,
        plan=plan,
    )


