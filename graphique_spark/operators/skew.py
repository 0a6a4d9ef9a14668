"""Skew mitigation for joins and aggregations.

AQE's skew-join splitting (on by default, session.py) handles most skew at
runtime for sort-merge joins. These helpers cover what AQE cannot:

* :func:`two_phase_agg` — salted partial aggregation for hot group keys:
  aggregate on ``(key, salt)`` first (spreads the hot key), then
  re-aggregate on ``key``. Only algebraic aggregates (sum/count/min/max)
  compose this way. The salt is derived from a hash of the row's other
  columns, not ``rand()``, so plans stay deterministic and re-executable
  (speculative retries, AQE re-optimization, and oracles all see the same
  data).
* :func:`skew_report` — the key distribution that says whether salting
  is needed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import materialize

_SALT = "__gs_salt"


def _det_salt(df: DataFrame, salts: int) -> Column:
    """Deterministic pseudo-random salt in [0, salts): xxhash64 over the
    hashable columns (map-typed columns crash xxhash64 and are skipped)
    plus the input partition id — without the partition term, fully
    duplicate hot-key rows all hash to ONE salt and the skewed key still
    lands on a single reducer. Stable given a stable input layout."""
    from pyspark.sql import types as T

    def hashable(dt) -> bool:
        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return hashable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(hashable(f.dataType) for f in dt.fields)
        return True

    cols = [F.col(c) for c in df.columns if hashable(df.schema[c].dataType)]
    return F.pmod(
        F.xxhash64(*cols, F.spark_partition_id()) if cols
        else F.xxhash64(F.spark_partition_id()),
        F.lit(salts),
    )


def two_phase_agg(
    df: DataFrame,
    by: Sequence[str],
    sums: Sequence[str] = (),
    counts: str | None = None,
    salts: int = 16,
) -> DataFrame:
    """Sum/count aggregation resilient to hot group keys: partial agg on
    (by, salt), final agg on by."""
    by = list(by)
    salted = df.withColumn(_SALT, _det_salt(df, salts))
    partial_aggs = [F.sum(c).alias(f"__p_{c}") for c in sums]
    if counts:
        partial_aggs.append(F.count(F.lit(1)).alias("__p_n"))
    partial = salted.groupBy(*by, _SALT).agg(*partial_aggs)
    final_aggs = [F.sum(f"__p_{c}").alias(c) for c in sums]
    if counts:
        final_aggs.append(F.sum("__p_n").cast("long").alias(counts))
    return partial.groupBy(*by).agg(*final_aggs)


def skew_report(
    df: DataFrame,
    keys: Sequence[str],
    top: int = 10,
) -> DataFrame:
    """Key-distribution diagnostic that decides whether a join/agg on
    ``keys`` needs salting: the ``top`` heaviest key values with their
    row share and the ratio to a perfectly uniform key. A ``skew_ratio``
    in the hundreds means one reducer would own that multiple of the
    average partition — the planning signal for :func:`two_phase_agg`
    or a higher AQE skew threshold.

    Scale shape: one map-side-combined count per key, global scalars from
    its tiny re-aggregate, heap top-k — the report never materializes more
    than ``top`` rows."""
    keys = list(keys)
    from graphique_spark.operators.topk import top_k

    # materialized: the scalar collect below and the returned top-k both
    # read counts — without the cut the per-key shuffle over df runs twice
    counts = materialize(df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")))
    total, n_keys = counts.agg(F.sum("n"), F.count(F.lit(1))).first()
    heavy = top_k(counts, ["-n", *keys], top, ())
    if not n_keys:
        # no rows -> no keys: return the empty report with the full schema
        # instead of float(None) blowing up below
        return heavy.select(
            *keys,
            "n",
            F.lit(0.0).alias("share"),
            F.lit(0.0).alias("skew_ratio"),
        )
    mean = float(total) / float(n_keys)
    return heavy.select(
        *keys,
        "n",
        (F.col("n") / F.lit(float(total))).alias("share"),
        (F.col("n") / F.lit(mean)).alias("skew_ratio"),
    )
