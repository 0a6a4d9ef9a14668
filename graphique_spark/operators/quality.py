"""Data-quality constraint checking (the Deequ / Great Expectations shape):
declare rules against a table, get back one violations row per rule.

Scale shape: every row-local rule (nullness, range, regexp, set
membership, custom predicate) folds into ONE conditional-count aggregate —
a single scan, map-side combined, one row out per rule. Only the two
genuinely relational rules cost more, and each is a single extra
aggregate/join:

* ``unique`` — one groupBy over the key columns counting groups with >1
  row (the shuffle carries only the key).
* ``foreign_key`` — a left-anti join against the (deduplicated) referenced
  keys; AQE broadcasts the reference side when it fits.

Use it as the pipeline gate between ingest and curation: assert
``violations == 0`` per rule, or route the report to the run log.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import local_frame


@dataclass
class Rule:
    """One declarative expectation. ``kind``:

    * ``not_null`` — ``column`` has no nulls
    * ``in_range`` — ``lo <= column <= hi`` (nulls violate; pair with
      not_null or widen the predicate instead of hiding them)
    * ``matches`` — ``column`` fully matches regexp ``pattern``
    * ``isin`` — ``column`` value in ``values``
    * ``predicate`` — arbitrary boolean ``Column`` in ``expr`` holds
    * ``unique`` — ``columns`` form a key (violations = surplus rows)
    * ``foreign_key`` — every ``column`` value exists in ``ref[ref_column]``
    """

    name: str
    kind: str
    column: str | None = None
    lo: float | None = None
    hi: float | None = None
    pattern: str | None = None
    values: Sequence | None = None
    expr: Column | None = None
    columns: Sequence[str] | None = None
    ref: DataFrame | None = None
    ref_column: str | None = None


def _violation_expr(rule: Rule) -> Column:
    col = F.col(rule.column) if rule.column else None
    if rule.kind == "not_null":
        return col.isNull()
    if rule.kind == "in_range":
        return ~col.between(rule.lo, rule.hi) | col.isNull()
    if rule.kind == "matches":
        return ~col.rlike(f"^(?:{rule.pattern})$") | col.isNull()
    if rule.kind == "isin":
        return ~col.isin(list(rule.values)) | col.isNull()
    if rule.kind == "predicate":
        return ~F.coalesce(rule.expr, F.lit(False))
    raise ValueError(f"unknown row-local rule kind {rule.kind!r}")


def validate(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Evaluate ``rules`` against ``df``; returns
    (rule, kind, violations, checked, passed) — one row per rule, ordered
    as given.

    Scale shape: row-local rules AND unique rules fold into ONE aggregate
    over a single scan of ``df`` (unique via ``count - countDistinct`` of
    the key struct, which equals the groupBy surplus-row count exactly —
    the struct wrapper keeps null-keyed groups countable). The per-rule
    report rows are EXPLODED out of that single aggregate row, not
    unioned per-rule selects — a union of N projections of the same
    aggregate re-executes the whole scan N times. Foreign keys stay
    slim key-column anti-joins (a row-preserving join folded into the
    main scan would shuffle the full payload when the ref side is too
    big to broadcast); their 1-row counts cross-join onto the same
    single aggregate row, so nothing re-executes."""
    spark = df.sparkSession
    if not rules:
        return local_frame(
            spark,
            [],
            "rule string, kind string, violations bigint, "
            "checked bigint, passed boolean",
        )
    local = [r for r in rules if r.kind not in ("unique", "foreign_key")]
    uniques = [r for r in rules if r.kind == "unique"]
    fks = [r for r in rules if r.kind == "foreign_key"]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, r in enumerate(local):
        aggs.append(F.sum(_violation_expr(r).cast("long")).alias(f"__v{i}"))
    for i, r in enumerate(uniques):
        # distinct key-tuple count: struct() is never null, so null-keyed
        # rows form groups exactly as groupBy treats them
        aggs.append(
            F.countDistinct(F.struct(*[F.col(c) for c in r.columns])).alias(f"__u{i}")
        )
    wide = df.agg(*aggs)
    for i, r in enumerate(fks):
        refs = r.ref.select(F.col(r.ref_column).alias(r.column)).distinct()
        # plain (not null-safe) equality on purpose: a null FK value has no
        # parent by definition, and the anti-join counts it as an orphan
        orphans = (
            df.select(r.column)
            .join(refs, on=r.column, how="left_anti")
            .agg(F.count(F.lit(1)).alias(f"__o{i}"))
        )
        wide = wide.crossJoin(orphans)
    li, ui, fi = iter(range(len(local))), iter(range(len(uniques))), iter(
        range(len(fks))
    )
    entries = []
    for r in rules:
        if r.kind == "unique":
            v = F.col("__n") - F.coalesce(F.col(f"__u{next(ui)}"), F.lit(0))
        elif r.kind == "foreign_key":
            v = F.coalesce(F.col(f"__o{next(fi)}"), F.lit(0))
        else:
            v = F.coalesce(F.col(f"__v{next(li)}"), F.lit(0))
        entries.append(
            F.struct(
                F.lit(r.name).alias("rule"),
                F.lit(r.kind).alias("kind"),
                v.cast("long").alias("violations"),
                F.col("__n").cast("long").alias("checked"),
            )
        )
    return (
        wide.select(F.explode(F.array(*entries)).alias("__r"))
        .select("__r.*")
        .withColumn("passed", F.col("violations") == 0)
    )
