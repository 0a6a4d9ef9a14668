"""Mergeable distinct-count sketches (Apache DataSketches HLL, built into
Spark 3.5+).

The 100 TB pattern for distinct counts over rolling corpora: build one
compact binary sketch per partition/group with a map-side-combinable
aggregate, persist the sketches (kilobytes each), and answer any future
union-of-groups question by merging sketches — no rescan of the data.
``approx_count_distinct`` (HLL++) gives a number; these give reusable,
composable state.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_sketches(
    df: DataFrame, col: str, by: Sequence[str] = (), lgk: int = 12
) -> DataFrame:
    """Per-group HLL sketch + estimate for ``col``. The sketch column is
    binary and mergeable (see :func:`hll_merge`); ``lgk`` trades size for
    accuracy (2^lgk buckets; 12 ≈ ±1.6% at 1σ)."""
    sketch = F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("sketch")
    grouped = df.groupBy(*by) if by else df.groupBy()
    return grouped.agg(sketch).withColumn(
        "estimate", F.hll_sketch_estimate("sketch")
    )


def hll_merge(sketches: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Merge sketch rows (drill up: union per-group sketches into coarser
    groups or a grand total) without touching the base data."""
    grouped = sketches.groupBy(*by) if by else sketches.groupBy()
    merged = grouped.agg(F.hll_union_agg("sketch").alias("sketch"))
    return merged.withColumn("estimate", F.hll_sketch_estimate("sketch"))


def _q_label(p: float) -> str:
    """Column label for quantile ``p``: q50, q29 (no float-truncation to
    q28), q99_9 (distinct from q99 — int(p*100) collides for p >= 0.99x,
    silently overwriting one estimate with another)."""
    text = f"{p * 100:.6f}".rstrip("0").rstrip(".")
    return "q" + text.replace(".", "_")


def kll_quantiles(
    df: DataFrame,
    col: str,
    by: Sequence[str] = (),
    q: Sequence[float] = (0.5,),
    k: int = 200,
) -> DataFrame:
    """Per-group KLL quantile sketch + estimates for ``col`` (double).

    Same operational story as :func:`hll_sketches` but for percentiles:
    the sketch is a compact mergeable summary, so p50/p99 over any union
    of groups/days comes from sketch merges, never a re-scan — what
    ``percentile_approx`` can't do (its state isn't surfaced)."""
    agg = F.kll_sketch_agg_double(F.col(col), F.lit(k)).alias("sketch")
    grouped = df.groupBy(*by) if by else df.groupBy()
    out = grouped.agg(agg)
    for p in q:
        out = out.withColumn(
            _q_label(p),
            F.kll_sketch_get_quantile_double("sketch", F.lit(float(p))),
        )
    return out


def kll_merge_quantiles(
    sketches: DataFrame, by: Sequence[str] = (), q: Sequence[float] = (0.5,)
) -> DataFrame:
    """Merge KLL sketch rows into coarser groups and re-estimate."""
    grouped = sketches.groupBy(*by) if by else sketches.groupBy()
    out = grouped.agg(F.kll_merge_agg_double("sketch").alias("sketch"))
    for p in q:
        out = out.withColumn(
            _q_label(p),
            F.kll_sketch_get_quantile_double("sketch", F.lit(float(p))),
        )
    return out
