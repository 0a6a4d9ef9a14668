"""Single-pass table profiling: per-column null counts, distinct counts,
and min/max — the data-quality summary every ingest job wants.

Scale shape: two column-pruned scans — plain metrics (counts/extrema) in
one single-row ``agg``, exact distinct counts in a second, cross-joined.
Keeping them apart matters: mixed distinct+plain aggregates make Catalyst
Expand the input (n_distinct+1)-fold and evaluate the plain aggregates
over the expanded stream (measured 5x slower). The combined result row is
reshaped to long format on the driver (bounded by #columns, never by
rows). ``exact=False`` swaps ``count_distinct`` for HLL
``approx_count_distinct``, which IS a plain aggregate — that mode is one
scan, and the right call when distinct cardinalities are huge.

Numeric extrema are emitted floor-scaled (×1e6, BIGINT) so cross-engine
float representation can't leak into value comparisons; string/date/
timestamp extrema are emitted as strings (ISO formats match across
engines).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import local_frame

_NUMERIC_EXACT = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _is_numeric(kind: str) -> bool:
    # exact names + decimal(p,s): a prefix test would also catch
    # 'interval day to second' (startswith 'int') and send intervals
    # down the numeric-scaling path
    return kind in _NUMERIC_EXACT or kind.startswith("decimal")

PROFILE_SCHEMA = (
    "column string, dtype string, n_rows bigint, n_nulls bigint, "
    "n_distinct bigint, min_num_scaled bigint, max_num_scaled bigint, "
    "min_str string, max_str string"
)


#: saturation bound for the 1e6 scaling: the largest double safely below
#: Long.MaxValue (an unclamped cast would raise under ANSI mode — or
#: silently clamp without it — for extrema beyond ~9.2e12)
_SCALE_CAP = 9.223372036854774e18


def _scaled(col):
    v = F.floor(col.cast("double") * 1000000.0 + F.lit(0.5))
    return F.least(F.greatest(v, F.lit(-_SCALE_CAP)), F.lit(_SCALE_CAP)).cast(
        "long"
    )


def profile(df: DataFrame, columns: Sequence[str] | None = None, exact: bool = True) -> DataFrame:
    """Profile ``columns`` (default: all); returns one row per column with
    schema :data:`PROFILE_SCHEMA`.

    Exact distinct counts run in their OWN aggregate, cross-joined to the
    plain aggregates (both single-row): mixing n distinct aggs with plain
    aggs in one ``agg`` makes Catalyst Expand every input row (n+1)-fold
    and push the plain aggs through the expanded stream — measured 5x
    slower than two column-pruned scans at sf0.1. ``exact=False`` HLL
    distincts are plain aggregates, so they stay in the single scan."""
    dtypes = dict(df.dtypes)
    cols = list(df.columns if columns is None else list(columns))
    aggs = [F.count(F.lit(1)).alias("__n")]
    distinct_aggs = []
    for c in cols:
        kind = dtypes[c]
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        if exact:
            distinct_aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"nd_{c}"))
        if _is_numeric(kind):
            aggs.append(_scaled(F.min(c)).alias(f"mn_{c}"))
            aggs.append(_scaled(F.max(c)).alias(f"mx_{c}"))
        else:
            aggs.append(F.min(F.col(c).cast("string")).alias(f"ms_{c}"))
            aggs.append(F.max(F.col(c).cast("string")).alias(f"xs_{c}"))
    plain = df.agg(*aggs)
    row = (
        plain.crossJoin(df.agg(*distinct_aggs)) if distinct_aggs else plain
    ).first()  # bounded: one combined row
    out = []
    for c in cols:
        kind = dtypes[c]
        numeric = _is_numeric(kind)
        out.append(
            (
                c,
                kind,
                row["__n"],
                row["__n"] - row[f"nn_{c}"],
                row[f"nd_{c}"],
                row[f"mn_{c}"] if numeric else None,
                row[f"mx_{c}"] if numeric else None,
                None if numeric else row[f"ms_{c}"],
                None if numeric else row[f"xs_{c}"],
            )
        )
    return local_frame(df.sparkSession, out, PROFILE_SCHEMA)
