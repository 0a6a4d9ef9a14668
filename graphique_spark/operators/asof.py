"""As-of join: for each left row, the nearest earlier-or-equal right row.

The reference exposes ``asofJoin(right, on, keys, rkeys, tolerance)``
(reference interface.py:354-383) via ibis; Spark has no native as-of join.

Strategy (scales to arbitrarily large sides): **union + last-value window**.
Union left and right rows tagged by side, partition by the equality keys,
order by the ``on`` column with right rows sorting before left rows at equal
timestamps, then for each left row take ``last(right payload, ignorenulls)``
over an unbounded-preceding frame. One shuffle on the keys — same cost as an
equi-join — no range-explosion, no per-key skew beyond what the data has.

The composition is written once, as SQL text (:class:`AsofSql`): execution
runs it through ``spark.sql`` with the two frames as parameters, and
``Dataset.to_sql`` (sqlrender.op_asof) renders the same text over the
rendered input subqueries.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graphique_spark.session import local_frame, materialize
from graphique_spark.sqlrender import Unrenderable, expr_sql, quote, run_sql, subquery

_SIDE = "__asof_side"
_P = "__asof_p"
_T = "__asof_t"
_PID = "__asof_pid"
_RN = "__asof_rn"
_CARRY_P = "__asof_cp"
_CARRY_T = "__asof_ct"
_INTERNAL = frozenset({_SIDE, _P, _T, _PID, _RN, _CARRY_P, _CARRY_T})


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


class AsofSql:
    """The as-of join's one definition, as SQL text over two input texts.

    Takes :func:`asof_join`'s arguments and validates them (``ValueError``
    before any job). :meth:`sql` composes the three steps; the keyless
    execution path runs :meth:`union`, its own two-phase fill, then
    :meth:`finish`."""

    def __init__(
        self,
        left: DataFrame,
        right: DataFrame,
        on: str,
        right_on: str | None = None,
        by: Sequence[str] = (),
        right_by: Sequence[str] | None = None,
        tolerance: Column | str | None = None,
        direction: str = "backward",
        suffix: str = "_r",
    ):
        self.on = on
        self.right_on = right_on or on
        self.by = list(by)
        self.right_by = list(right_by or by)
        if len(self.by) != len(self.right_by):
            # zip() would silently truncate, mapping the wrong key columns
            # and producing all-null "matches"
            raise ValueError(f"by has {len(self.by)} keys but right_by has {len(self.right_by)}")
        if direction not in ("backward", "forward"):
            raise ValueError(f"direction must be backward|forward, got {direction!r}")
        self.direction = direction
        self.left_columns = left.columns
        clash = _INTERNAL.intersection(self.left_columns)
        if clash:
            raise ValueError(f"asof join: column names {sorted(clash)} are reserved")
        rschema = right.schema
        # the union widens a left `on` or key column to a wider right type
        # (int against bigint comes back bigint); finish casts it back,
        # losslessly, since only left rows leave the join
        lschema = left.schema
        self.casts = {}
        for c, rc in [(self.on, self.right_on), *zip(self.by, self.right_by)]:
            if c in lschema.names and rc in rschema.names:
                ltype = lschema[c].dataType.simpleString()
                if ltype != rschema[rc].dataType.simpleString():
                    self.casts[c] = ltype
        self.payload = [
            c for c in right.columns if c not in self.right_by and c != self.right_on
        ]
        self.renames = {
            c: (c + suffix if c in self.left_columns else c) for c in self.payload
        }
        # deterministic tie-break: among right rows sharing (keys, on), the
        # GREATEST payload (struct-lexicographic) wins, so reruns agree
        # instead of depending on partition order. Skipped when a payload
        # field is unorderable (maps); ties then fall back to arbitrary, as
        # pandas/DuckDB as-of joins do.
        self.tiebreak = all(
            _orderable(rschema[c].dataType) for c in [self.right_on, *self.payload]
        )
        self.tolerance = None
        if isinstance(tolerance, Column):
            try:
                self.tolerance = expr_sql(left, tolerance)
            except Unrenderable as exc:
                raise ValueError(f"asof tolerance has no SQL text: {exc}") from exc
        elif tolerance is not None:
            self.tolerance = str(tolerance)

    def union(self, ltext: str, rtext: str) -> str:
        """Left rows (side 1) and right rows (side 0) in one relation: the
        left columns, the side tag, the right payload as one struct and the
        right ``on`` value. NULL fills take their types from the other
        side through the union's type coercion."""
        key_map = dict(zip(self.by, self.right_by))
        r_items = []
        for c in self.left_columns:
            if c in key_map:
                r_items.append(f"{quote(key_map[c])} AS {quote(c)}")
            elif c == self.on:
                r_items.append(f"{quote(self.right_on)} AS {quote(c)}")
            else:
                r_items.append(f"NULL AS {quote(c)}")
        named = ", ".join("'" + c.replace("'", "''") + f"', {quote(c)}" for c in self.payload)
        cols = ", ".join(quote(c) for c in self.left_columns)
        return (
            f"SELECT {cols}, 1 AS {_SIDE}, NULL AS {_P}, NULL AS {_T}\n"
            f"FROM {subquery(ltext, '__asof_l')}\n"
            "UNION ALL\n"
            f"SELECT {', '.join(r_items)}, 0, named_struct({named}), {quote(self.right_on)}\n"
            f"FROM {subquery(rtext, '__asof_r')}\n"
            # a right row with a NULL `on` has no position on the time axis
            # and can never be "the nearest"; left in, it sorts nulls-first
            # and its payload leaks into every left row before the first
            # real right row
            f"WHERE {quote(self.right_on)} IS NOT NULL"
        )

    def _order(self) -> list[tuple[str, str]]:
        """(column, direction) of the fill order: right (0) before left (1)
        at equal ``on``, then the payload tie-break."""
        # DESC NULLS FIRST, not DESC: a left row with NULL `on` has no
        # position on the time axis and must come BEFORE every right row
        # so last(payload, ignorenulls) stays null (backward gets this for
        # free: ascending is nulls-first)
        on = "DESC NULLS FIRST" if self.direction == "forward" else "ASC"
        order = [(self.on, on), (_SIDE, "ASC")]
        return order + [(_P, "ASC")] if self.tiebreak else order

    def order_columns(self) -> list[Column]:
        return [
            F.col(c).desc_nulls_first() if d == "DESC NULLS FIRST" else F.col(c)
            for c, d in self._order()
        ]

    def fill(self, text: str) -> str:
        """Carry the latest right payload and ``on`` forward along the time
        axis, per key."""
        part = f"PARTITION BY {', '.join(quote(b) for b in self.by)} " if self.by else ""
        order = ", ".join(f"{quote(c)} {d}" for c, d in self._order())
        cols = ", ".join(quote(c) for c in self.left_columns)
        return (
            f"SELECT {cols}, {_SIDE}, last({_P}, true) OVER w AS {_P}, "
            f"last({_T}, true) OVER w AS {_T}\n"
            f"FROM {subquery(text, '__asof_u')}\n"
            f"WINDOW w AS ({part}ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )

    def finish(self, text: str) -> str:
        """Left rows with their payload columns, voided outside the
        tolerance."""
        payload = _P
        if self.tolerance is not None:
            # bound form (ts <= ts + interval), not gap form (ts - ts <= tol):
            # timestamp subtraction yields a DAY-TO-SECOND interval, which is
            # incomparable with a calendar (month-bearing) tolerance like P1M
            on = quote(self.on)
            if self.direction == "backward":
                within = f"{on} <= {_T} + ({self.tolerance})"
            else:
                within = f"{_T} <= {on} + ({self.tolerance})"
            payload = f"(CASE WHEN {_T} IS NOT NULL AND {within} THEN {_P} END)"
        items = [
            f"CAST({quote(c)} AS {self.casts[c]}) AS {quote(c)}" if c in self.casts else quote(c)
            for c in self.left_columns
        ] + [
            f"{payload}.{quote(c)} AS {quote(self.renames[c])}" for c in self.payload
        ]
        return (
            f"SELECT {', '.join(items)}\n"
            f"FROM {subquery(text, '__asof_f')}\n"
            f"WHERE {_SIDE} = 1"
        )

    def sql(self, ltext: str, rtext: str) -> str:
        return self.finish(self.fill(self.union(ltext, rtext)))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_on: str | None = None,
    by: Sequence[str] = (),
    right_by: Sequence[str] | None = None,
    tolerance: Column | str | None = None,
    direction: str = "backward",
    suffix: str = "_r",
) -> DataFrame:
    """Left as-of join. ``direction='backward'``: nearest right row with
    ``r.on <= l.on`` (within ``tolerance`` if given); ``'forward'``: nearest
    with ``r.on >= l.on``. A string ``tolerance`` is SQL text; a Column is
    rendered against ``left``.

    Right payload columns that collide with left names get ``suffix``.
    """
    spec = AsofSql(left, right, on, right_on, by, right_by, tolerance, direction, suffix)
    spark = left.sparkSession
    if spec.by:
        return run_sql(spark, spec.sql, left=left, right=right)
    unioned = run_sql(spark, spec.union, left=left, right=right)
    filled = _global_last_fill(unioned, spec.order_columns())
    return run_sql(spark, spec.finish, filled=filled)


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
        parts.withColumn(_P, F.last(_P, ignorenulls=True).over(w))
        .withColumn(_T, F.last(_T, ignorenulls=True).over(w))
        .withColumn(_RN, rn)
    )
    carry_out = {
        row[_PID]: row["co"]
        for row in filled.groupBy(_PID)
        .agg(
            F.max_by(
                F.struct(F.col(_P).alias("p"), F.col(_T).alias("t")),
                F.col(_RN),
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
            StructField(_CARRY_P, unioned.schema[_P].dataType),
            StructField(_CARRY_T, unioned.schema[_T].dataType),
        ]
    )
    rows = [
        (pid, carry["p"] if carry else None, carry["t"] if carry else None)
        for pid, carry in carry_in.items()
    ]
    carry_df = local_frame(unioned.sparkSession, rows, schema)
    return (
        filled.join(F.broadcast(carry_df), on=_PID, how="left")
        .withColumn(_P, F.coalesce(F.col(_P), F.col(_CARRY_P)))
        .withColumn(_T, F.coalesce(F.col(_T), F.col(_CARRY_T)))
        .drop(_PID, _RN, _CARRY_P, _CARRY_T)
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
