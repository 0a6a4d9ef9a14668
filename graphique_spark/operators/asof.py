"""As-of join: for each left row, the nearest earlier-or-equal right row.

The reference exposes ``asofJoin(right, on, keys, rkeys, tolerance)``
(reference interface.py:354-383) via ibis; Spark has no native as-of join.

Strategy (scales to arbitrarily large sides): **union + last-value window**.
Union left and right rows tagged by side, partition by the equality keys,
order by the ``on`` column with right rows sorting before left rows at equal
timestamps, then for each left row take ``last(right payload, ignorenulls)``
over an unbounded-preceding frame. One shuffle on the keys — same cost as an
equi-join — no range-explosion, no per-key skew beyond what the data has.

The alternative (range join ``r.on BETWEEN l.on - tol AND l.on`` +
``row_number() == 1``) multiplies rows by the tolerance window and is only
used when explicitly requested via ``strategy="range"`` (it can win when
keys are few and tolerance is tight).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphique_spark.session import local_frame, materialize

_SIDE = "__asof_side"
_PAYLOAD = "__asof_payload"
_RON = "__asof_ron"


def _orderable(dt) -> bool:
    """Whether Spark can sort on this type (maps can't, recursively)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def asof_spec(
    left_columns: Sequence[str], right_columns: Sequence[str],
    right_on: str, right_by: Sequence[str], suffix: str,
) -> tuple[list[str], dict[str, str]]:
    """(payload_cols, renames) — the single source of the payload/rename
    derivation, shared by both execution strategies and the SQL renderer
    (sqlrender.op_asof) so rendered text and execution cannot drift."""
    payload_cols = [c for c in right_columns if c not in right_by and c != right_on]
    renames = {c: (c + suffix if c in left_columns else c) for c in payload_cols}
    return payload_cols, renames


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str | None = None,
    by: Sequence[str] = (),
    right_by: Sequence[str] | None = None,
    tolerance: Column | str | None = None,
    direction: str = "backward",
    strategy: str = "union",
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join. ``direction='backward'``: nearest right row with
    ``r.on <= l.on`` (within ``tolerance`` if given); ``'forward'``: nearest
    with ``r.on >= l.on``.

    Right payload columns that collide with left names get ``suffix``.
    """
    right_on = right_on or on
    right_by = list(right_by or by)
    by = list(by)
    if len(by) != len(right_by):
        # zip() would silently truncate, mapping the wrong key columns
        # and producing all-null "matches"
        raise ValueError(
            f"by has {len(by)} keys but right_by has {len(right_by)}"
        )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if strategy == "range":
        return _asof_range(left, right, on, right_on, by, right_by, tolerance, direction, suffix)

    payload_cols, renames = asof_spec(left.columns, right.columns, right_on, right_by, suffix)

    # a right row with a NULL `on` has no position on the time axis and
    # can never be "the nearest" (the range strategy's comparison already
    # excludes it); left in, it sorts nulls-first and its payload leaks
    # into every left row before the first real right row
    right = right.where(F.col(right_on).isNotNull())

    lhs = left.withColumn(_SIDE, F.lit(1)).withColumn(_PAYLOAD, F.lit(None).cast(
        "struct<" + ",".join(f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in payload_cols) + ">"
    )).withColumn(_RON, F.lit(None).cast(right.schema[right_on].dataType.simpleString()))

    rhs = right.select(
        *[F.col(rb).alias(b) for b, rb in zip(by, right_by)],
        F.col(right_on).alias(on),
        F.lit(0).alias(_SIDE),
        F.struct(*[F.col(c) for c in payload_cols]).alias(_PAYLOAD),
        F.col(right_on).alias(_RON),
    )
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(left.schema[c].dataType.simpleString()))
    rhs = rhs.select(*lhs.columns)

    unioned = lhs.unionByName(rhs)
    order = [F.col(on), F.col(_SIDE)]  # right (0) before left (1) at ties
    if direction == "forward":
        # desc_nulls_first, not desc: a left row with NULL `on` has no
        # position on the time axis and must traverse BEFORE every right
        # row so last(payload, ignorenulls) stays null — plain desc sorts
        # nulls last and handed such rows the latest right payload
        # (backward gets this for free: asc is nulls-first)
        order = [F.col(on).desc_nulls_first(), F.col(_SIDE)]
    if _orderable(right.schema[right_on].dataType) and all(
        _orderable(right.schema[c].dataType) for c in payload_cols
    ):
        # deterministic tie-break: among right rows sharing (keys, on), the
        # GREATEST payload (struct-lexicographic) wins — reruns and both
        # strategies agree instead of depending on partition order. Skipped
        # when a payload field is unorderable (maps); ties then fall back
        # to arbitrary, as pandas/DuckDB as-of joins do.
        order = order + [F.col(_PAYLOAD)]
    if by:
        w = Window.partitionBy(*by).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        matched = unioned.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
        matched = matched.withColumn(_RON, F.last(_RON, ignorenulls=True).over(w))
    else:
        matched = _global_last_fill(unioned, order)

    out = matched.filter(F.col(_SIDE) == 1)
    if tolerance is not None:
        tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance
        # bound form (ts <= ts + interval), not gap form (ts - ts <= tol):
        # timestamp subtraction yields a DAY-TO-SECOND interval, which is
        # incomparable with a calendar (month-bearing) tolerance like P1M
        if direction == "backward":
            within = F.col(_RON).isNotNull() & (F.col(on) <= F.col(_RON) + tol)
        else:
            within = F.col(_RON).isNotNull() & (F.col(_RON) <= F.col(on) + tol)
        out = out.withColumn(_PAYLOAD, F.when(within, F.col(_PAYLOAD)))
        out = out.withColumn(_RON, F.when(within, F.col(_RON)))
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"{_PAYLOAD}.{c}").alias(renames[c]) for c in payload_cols],
    )


_PID = "__asof_pid"


def _global_last_fill(unioned: DataFrame, order: list[Column]) -> DataFrame:
    """Keyless as-of fill without an unpartitioned window.

    A global ``last(..., ignorenulls)`` window would serialize the whole
    union through one task. Instead: range-repartition on the ``on`` order
    (partition i holds smaller timestamps than partition i+1), fill within
    each partition, collect each partition's carry-out value (one row per
    partition), and broadcast the carry-in back — the same two-phase pattern
    as :mod:`graphique_spark.operators.sequence`.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    parts = unioned.repartitionByRange(*order).sortWithinPartitions(*order)
    parts = parts.withColumn(_PID, F.spark_partition_id())
    w = Window.partitionBy(_PID).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    rn = F.row_number().over(Window.partitionBy(_PID).orderBy(*order))
    filled = materialize(
        parts.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
        .withColumn(_RON, F.last(_RON, ignorenulls=True).over(w))
        .withColumn("__asof_rn", rn)
    )
    carry_out = {
        row[_PID]: row["co"]
        for row in filled.groupBy(_PID)
        .agg(
            F.max_by(
                F.struct(F.col(_PAYLOAD).alias("p"), F.col(_RON).alias("t")),
                F.col("__asof_rn"),
            ).alias("co")
        )
        .collect()
    }
    carry_in, last = {}, None
    for pid in sorted(carry_out):
        carry_in[pid] = last
        out = carry_out[pid]
        if out is not None and out["p"] is not None:
            last = out
    schema = StructType(
        [
            StructField(_PID, IntegerType()),
            StructField("__carry_p", unioned.schema[_PAYLOAD].dataType),
            StructField("__carry_t", unioned.schema[_RON].dataType),
        ]
    )
    rows = [
        (pid, carry["p"] if carry else None, carry["t"] if carry else None)
        for pid, carry in carry_in.items()
    ]
    carry_df = local_frame(unioned.sparkSession, rows, schema)
    return (
        filled.join(F.broadcast(carry_df), on=_PID, how="left")
        .withColumn(_PAYLOAD, F.coalesce(F.col(_PAYLOAD), F.col("__carry_p")))
        .withColumn(_RON, F.coalesce(F.col(_RON), F.col("__carry_t")))
        .drop(_PID, "__asof_rn", "__carry_p", "__carry_t")
    )


def _asof_range(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str,
    by: list[str],
    right_by: list[str],
    tolerance: Column | str | None,
    direction: str,
    suffix: str,
) -> DataFrame:
    """Range-join variant: bounded candidate window + keep nearest."""
    payload_cols, renames = asof_spec(left.columns, right.columns, right_on, right_by, suffix)
    r = right.select(
        *[F.col(rb).alias(f"__r_{b}") for b, rb in zip(by, right_by)],
        F.col(right_on).alias("__r_on"),
        *[F.col(c).alias(f"__r_{c}") for c in payload_cols],
    )
    cond = F.lit(True)
    for b in by:
        cond = cond & (F.col(b) == F.col(f"__r_{b}"))
    if direction == "backward":
        cond = cond & (F.col("__r_on") <= F.col(on))
        if tolerance is not None:
            tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance
            cond = cond & (F.col("__r_on") >= F.col(on) - tol)
    else:
        cond = cond & (F.col("__r_on") >= F.col(on))
        if tolerance is not None:
            tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance
            cond = cond & (F.col("__r_on") <= F.col(on) + tol)
    # tag each left row with a unique id so fully identical duplicate left
    # rows keep one output row each (partitioning the tie-break window by all
    # left columns would collapse them)
    tagged = left.withColumn("__l_id", F.monotonically_increasing_id())
    joined = tagged.join(r, on=cond, how="left")
    order = [F.col("__r_on").desc() if direction == "backward" else F.col("__r_on")]
    if all(_orderable(right.schema[c].dataType) for c in payload_cols):
        # same greatest-payload tie-break as the union strategy
        order.append(
            F.struct(*[F.col(f"__r_{c}") for c in payload_cols]).desc_nulls_last()
        )
    w = Window.partitionBy("__l_id").orderBy(*order)
    best = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return best.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"__r_{c}").alias(renames[c]) for c in payload_cols],
    )


def scd2_join(
    facts: DataFrame,
    dims: DataFrame,
    key: str,
    fact_ts: str,
    valid_from: str = "valid_from",
    valid_to: str | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Point-in-time (SCD Type 2) dimension join: each fact row picks the
    dimension version in effect at its timestamp — the latest version with
    ``valid_from <= fact_ts`` per key, optionally voided when that
    version's ``valid_to`` has already passed (gap in coverage).

    Built on the as-of union+last-window strategy: dimension versions and
    facts interleave in one per-key sort, so the join never shuffles more
    than (facts + versions) rows and no fact ever scans the full version
    history. The common warehouse alternative — a range join on
    ``valid_from <= ts < valid_to`` — degrades to a per-key cross product
    when version counts grow; this stays linear."""
    out = asof_join(
        facts,
        dims,
        on=fact_ts,
        right_on=valid_from,
        by=[key],
        direction="backward",
        suffix=suffix,
    )
    if valid_to is not None:
        vt = valid_to + suffix if valid_to + suffix in out.columns else valid_to
        payload = [
            c for c in out.columns
            if c not in facts.columns and c != vt
        ]
        expired = F.col(vt).isNotNull() & (F.col(vt) <= F.col(fact_ts))
        for c in payload:
            out = out.withColumn(c, F.when(expired, F.lit(None)).otherwise(F.col(c)))
        out = out.withColumn(vt, F.when(expired, F.lit(None)).otherwise(F.col(vt)))
    return out
