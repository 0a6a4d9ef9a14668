"""Top-k, rank-filter, distinct and take operators (reference ``order``,
``first``, ``distinct``, ``take``: interface.py:185-299, 424-435).

* Global ``order + limit`` stays a DataFrame step: ``TakeOrderedAndProject``
  (per-partition top-k, driver merge) costs less to build than a
  ``spark.sql`` call's temp view.
* The window-shaped operators are SQL text over one input text, written
  once: ``Dataset`` runs it through ``sqlrender.run_sql`` and ``to_sql``
  renders the same builder over the rendered input.
* Per-group top-k is ``row_number/rank/dense_rank`` over a keyed window and
  a ``<= k`` filter; ``InferWindowGroupLimit`` pushes the limit into the
  sort, so each group keeps k rows per partition.
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphique_spark.sqlrender import col_ref, quote, run_sql, sort_item, subquery


def sort_keys(by: Sequence[str]) -> list[Column]:
    """``'-'`` prefix means descending (reference core.py:26-28)."""
    return [F.col(k[1:]).desc() if k.startswith("-") else F.col(k) for k in by]


def _window_filter(text: str, window: str, tag: str, cond: str, extra: str = "") -> str:
    """Rows of ``text`` whose ``window`` value (named ``tag``) passes
    ``cond``, with ``tag`` projected away."""
    inner = f"SELECT *, {window} AS {tag}{extra}\nFROM {subquery(text, '__w_in')}"
    return f"SELECT * EXCEPT ({tag})\nFROM {subquery(inner, '__w')}\nWHERE {tag} {cond}"


def _partition(cols: Sequence[str]) -> str:
    return "PARTITION BY " + ", ".join(col_ref(c) for c in cols)


def group_top_k_sql(text: str, by: Sequence[str], limit: int, over: Sequence[str]) -> str:
    """The first ``limit`` rows of each ``over`` group in ``by`` order
    (``order(limit:, over:)``). ``limit <= 0`` is an empty result, not
    1-per-group."""
    if limit <= 0:
        return f"SELECT *\nFROM {subquery(text, '__t')}\nLIMIT 0"
    order = ", ".join(sort_item(k) for k in by)
    window = f"ROW_NUMBER() OVER ({_partition(over)} ORDER BY {order})"
    return _window_filter(text, window, "__rn", f"<= {int(limit)}")


def rank_sql(
    text: str, by: Sequence[str], rank: int = 1, dense: bool = False, over: Sequence[str] = ()
) -> str:
    """Rows whose (dense_)rank over the sort keys is <= ``rank``, keeping
    ties (``first``).

    The global case (no ``over``) never ranks over an unpartitioned window
    (which would funnel every row through one task): it counts the
    distinct sort-key tuples (map-side partial agg + TakeOrderedAndProject),
    keeps the qualifying first-``rank`` tuples, and broadcast-semi-joins
    them back on null-safe equality — the Spark shape of the reference's
    first-k-distinct-values semi-join (reference interface.py:287-299).
    dense_rank <= k keeps the first k tuples; rank <= k keeps the tuples
    whose preceding row count is < k, a running sum over at most k rows."""
    items = ", ".join(sort_item(k) for k in by)
    if over:
        fn = "DENSE_RANK" if dense else "RANK"
        window = f"{fn}() OVER ({_partition(over)} ORDER BY {items})"
        return _window_filter(text, window, "__rk", f"<= {int(rank)}")
    # same one-char convention sort_keys uses (lstrip would eat every
    # leading dash of a column literally named "-x")
    cols = [col_ref(k[1:] if k.startswith("-") else k) for k in by]
    keys = [f"__k{i}" for i in range(len(cols))]
    order = ", ".join(k + (" DESC" if b.startswith("-") else "") for k, b in zip(keys, by))
    k = max(int(rank), 0)
    tuples = (
        f"SELECT {', '.join(f'{c} AS {n}' for c, n in zip(cols, keys))}, COUNT(1) AS __cnt\n"
        f"FROM __in\nGROUP BY {', '.join(cols)}\nORDER BY {order}\nLIMIT {k}"
    )
    if not dense:
        running = (
            f"SELECT *, COALESCE(SUM(__cnt) OVER (ORDER BY {order} "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __prev\n"
            f"FROM {subquery(tuples, '__t')}"
        )
        tuples = f"SELECT *\nFROM {subquery(running, '__p')}\nWHERE __prev < {k}"
    cond = " AND ".join(f"__in.{c} <=> __q.{n}" for c, n in zip(cols, keys))
    return (
        f"WITH __in AS (\n{text}\n)\n"
        "SELECT /*+ BROADCAST(__q) */ *\n"
        f"FROM __in LEFT SEMI JOIN {subquery(tuples, '__q')}\nON {cond}"
    )


def distinct_sql(
    text: str,
    on: Sequence[str] = (),
    keep: str | None = "first",
    counts: str | None = None,
    order_by: Sequence[str] = (),
) -> str:
    """One row per ``on`` group, keeping every column (``distinct``).
    ``keep``: 'first'/'last' row by ``order_by`` (the monotonic row id
    without it — an arbitrary, scan-order tie-break), None = drop *all*
    duplicated rows. ``counts`` adds the group size. ``on=()`` means every
    column: rows of a group are then identical, so no tie-break is needed.

    ``keep=None`` is a window count, not groupBy+semi-join: a plain equi
    semi join never matches NULL key values, silently dropping null-keyed
    singleton groups (NULL is a group, like Arrow/DuckDB), and the window
    is one shuffle where the join shape costs two."""
    src = subquery(text, "__d")
    if not on:
        if keep is None:
            grouped = f"SELECT *, COUNT(1) AS __n\nFROM {src}\nGROUP BY ALL"
            return f"SELECT * EXCEPT (__n)\nFROM {subquery(grouped, '__g')}\nWHERE __n = 1"
        if counts:
            return f"SELECT *, COUNT(1) AS {quote(counts)}\nFROM {src}\nGROUP BY ALL"
        return f"SELECT DISTINCT *\nFROM {src}"
    part = _partition(on)
    if keep is None:
        return _window_filter(text, f"COUNT(1) OVER ({part})", "__n", "= 1")
    keys = list(order_by)
    if keep == "last":  # reverse each key's direction by flipping its '-'
        keys = [k[1:] if k.startswith("-") else "-" + k for k in keys]
    if keys:
        order = ", ".join(sort_item(k) for k in keys)
    else:
        order = "monotonically_increasing_id()" + (" DESC" if keep == "last" else "")
    extra = f", COUNT(1) OVER ({part}) AS {quote(counts)}" if counts else ""
    window = f"ROW_NUMBER() OVER ({part} ORDER BY {order})"
    return _window_filter(text, window, "__rn", "= 1", extra)


def take_sql(text: str, indices: Sequence[int], rowid: str) -> str:
    """Rows by position with pyarrow ``take`` semantics against a rowid
    column: an inner join with a broadcast (position, index) VALUES table,
    the requested order preserved and duplicate indices repeating rows.
    The rowid column comes first, as in a USING join."""
    if not indices:  # pyarrow take([]) = empty table
        return f"SELECT *\nFROM {subquery(text, '__t')}\nLIMIT 0"
    values = ", ".join(f"({pos}, {int(i)})" for pos, i in enumerate(indices))
    return (
        "SELECT /*+ BROADCAST(__v) */ * EXCEPT (__pos)\n"
        f"FROM {subquery(text, '__t')}\n"
        f"JOIN (VALUES {values}) AS __v(__pos, {quote(rowid)}) USING ({quote(rowid)})\n"
        "ORDER BY __pos"
    )


def top_k(
    df: DataFrame, by: Sequence[str], limit: int | None = None, over: Sequence[str] = ()
) -> DataFrame:
    """Sort by keys; optionally keep the first ``limit`` rows, globally or
    per ``over`` group.

    Without ``limit`` the frame is simply sorted (``over`` is ignored,
    mirroring the reference, whose ``order`` only consults ``over`` when a
    limit is present). ``limit=0`` is an empty result, not 1-per-group.
    """
    if limit is not None and over:
        build = partial(group_top_k_sql, by=list(by), limit=limit, over=list(over))
        return run_sql(df.sparkSession, build, frame=df)
    ordered = df.orderBy(*sort_keys(by))
    return ordered if limit is None else ordered.limit(limit)


def rank_filter(
    df: DataFrame, by: Sequence[str], rank: int = 1, dense: bool = False, over: Sequence[str] = ()
) -> DataFrame:
    """Keep rows whose (dense_)rank over the sort keys is <= ``rank``,
    keeping ties (reference ``first``, interface.py:269-299); see
    :func:`rank_sql`."""
    build = partial(rank_sql, by=list(by), rank=rank, dense=dense, over=list(over))
    return run_sql(df.sparkSession, build, frame=df)
