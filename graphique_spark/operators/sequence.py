"""Order-sensitive operators without single-partition bottlenecks.

Spark DataFrames are unordered; the reference relies on a stable natural row
order for ``slice``/``take``/``runs`` (reference interface.py:177-183,
424-435, 464-489). The naive Spark translation — a window over a global
``ORDER BY`` with no partition key — serializes the whole table through one
task. Every helper here instead uses the classic two-phase pattern:

1. partition-local computation (window partitioned by ``spark_partition_id``),
2. a tiny per-partition summary collected to the driver (#partitions rows),
   turned into offsets and broadcast back.

Cost: one narrow pass + one broadcast join — no global sort, no single task.

The two phases are two jobs over the same rows, so each helper first cuts
the lineage with :func:`graphique_spark.session.materialize`: a
nondeterministic upstream (``sample``, an AQE-coalesced shuffle) could
otherwise change partition contents between the summary job and the row
job. The cut costs one job at call time and holds no CacheManager entry;
its blocks go once the returned frame is dropped.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphique_spark.session import materialize

_PID = "__gs_pid"
_MONO = "__gs_mono"


def _ordering(order_by: Sequence[str | Column]) -> list[Column]:
    cols = []
    for key in order_by:
        if isinstance(key, str):
            cols.append(F.col(key[1:]).desc() if key.startswith("-") else F.col(key))
        else:
            cols.append(key)
    return cols


def with_row_index(df: DataFrame, name: str = "_rowid") -> DataFrame:
    """Add a dense 0-based row index in current (scan) row order.

    ``monotonically_increasing_id`` is already ordered *within* a partition;
    a per-partition ``row_number`` plus driver-computed partition offsets
    yields a dense global index without any global sort. This is
    ``zipWithIndex`` re-expressed in DataFrame operators (Arrow-friendly,
    no RDD serialization).
    """
    tagged = materialize(
        df.withColumn(_PID, F.spark_partition_id()).withColumn(
            _MONO, F.monotonically_increasing_id()
        )
    )
    counts = {
        row[_PID]: row["cnt"]
        for row in tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, total = {}, 0
    for pid in sorted(counts):
        offsets[pid] = total
        total += counts[pid]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col(_PID)
    ) if offsets else F.lit(0)
    local = F.row_number().over(Window.partitionBy(_PID).orderBy(_MONO)) - 1
    return (
        tagged.withColumn(name, (local + offset_expr).cast("long"))
        .drop(_PID, _MONO)
    )


def partitioned_cumsum(
    df: DataFrame, value: Column, order_by: Sequence[str | Column], name: str
) -> DataFrame:
    """Global cumulative sum of ``value`` in ``order_by`` order, two-phase.

    Range-repartition on the sort keys (so partition i holds keys < partition
    i+1), cumsum within each partition, then add the collected per-partition
    totals of all earlier partitions.
    """
    order = _ordering(order_by)
    parts = df.repartitionByRange(*order).sortWithinPartitions(*order)
    parts = materialize(
        parts.withColumn(_PID, F.spark_partition_id()).withColumn("__gs_val", value)
    )
    totals = {
        row[_PID]: row["total"]
        for row in parts.groupBy(_PID).agg(F.sum("__gs_val").alias("total")).collect()
    }
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid] or 0
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col(_PID)
    ) if offsets else F.lit(0)
    w = Window.partitionBy(_PID).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return parts.withColumn(name, F.sum("__gs_val").over(w) + offset_expr).drop(
        _PID, "__gs_val"
    )


def with_run_ids(
    df: DataFrame,
    by: Sequence[str],
    order_by: Sequence[str | Column],
    split: Column | None = None,
    name: str = "_run",
) -> DataFrame:
    """Assign a dense run id: consecutive rows (in ``order_by`` order) with
    equal ``by`` values share a run (reference ``runs``, interface.py:464-489:
    ``(c != lag(c)).fill_null(False) → or_ → cumsum → group``).

    Two-phase like :func:`partitioned_cumsum`: change-points are detected with
    a partition-local ``lag``; the cross-partition boundary rows (one per
    partition) are collected to the driver to decide whether each partition's
    first row starts a new run, and run-counts per partition become offsets.
    """
    order = _ordering(order_by)
    parts = df.repartitionByRange(*order).sortWithinPartitions(*order)
    parts = parts.withColumn(_PID, F.spark_partition_id())
    w = Window.partitionBy(_PID).orderBy(*order)

    split_col = F.coalesce(split, F.lit(False)) if split is not None else F.lit(False)
    local_change: Column = F.lit(False)
    for col in by:
        lagged = F.lag(F.col(col)).over(w)
        # null-safe inequality; first-in-partition (lag null) handled below
        local_change = local_change | ~F.col(col).eqNullSafe(lagged)
    local_change = local_change | split_col
    parts = parts.withColumn("__gs_rn", F.row_number().over(w))
    first_in_part = F.col("__gs_rn") == 1

    # ONE summary pass per partition (tiny collect, #partitions rows): the
    # count of in-partition change points, plus the first/last `by` values
    # and the first row's split flag — everything the driver needs to decide
    # boundaries and offsets without a second scan or a broadcast join.
    flagged = materialize(
        parts.withColumn("__gs_lchg", (local_change & ~first_in_part).cast("long"))
    )
    summary = {
        row[_PID]: row
        for row in flagged.groupBy(_PID)
        .agg(
            F.sum("__gs_lchg").alias("local_changes"),
            F.min_by(F.struct(*[F.col(c) for c in by]), F.col("__gs_rn")).alias("first_vals"),
            F.max_by(F.struct(*[F.col(c) for c in by]), F.col("__gs_rn")).alias("last_vals"),
            F.min_by(split_col, F.col("__gs_rn")).alias("first_split"),
        )
        .collect()
    }
    pids = sorted(summary)
    boundary: dict[int, bool] = {}  # pid -> its first row starts a new run
    offsets, running = {}, 0
    for i, pid in enumerate(pids):
        row = summary[pid]
        if i == 0:
            boundary[pid] = False  # very first row begins run 0
        else:
            prev_last = summary[pids[i - 1]]["last_vals"]

            def _same(a, b):
                # mirror Spark's eqNullSafe INCLUDING NaN==NaN (Python's
                # nan != nan would fabricate a run break at every
                # partition boundary inside a NaN run)
                if a is None or b is None:
                    return a is None and b is None
                if isinstance(a, float) and isinstance(b, float):
                    import math
                    if math.isnan(a) and math.isnan(b):
                        return True
                return a == b

            differs = any(
                not _same(row["first_vals"][c], prev_last[c]) for c in by
            )
            boundary[pid] = differs or bool(row["first_split"])
        offsets[pid] = running
        running += (row["local_changes"] or 0) + int(boundary[pid])

    boundary_expr = F.element_at(
        F.create_map(*[F.lit(x) for pid in pids for x in (pid, boundary[pid])]),
        F.col(_PID),
    ) if pids else F.lit(False)
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col(_PID)
    ) if offsets else F.lit(0)

    change = F.when(first_in_part, boundary_expr).otherwise(local_change)
    out = flagged.withColumn("__gs_chg", change.cast("long"))
    wc = Window.partitionBy(_PID).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    out = out.withColumn(name, (F.sum("__gs_chg").over(wc) + offset_expr).cast("long"))
    return out.drop(_PID, "__gs_chg", "__gs_lchg", "__gs_rn")
