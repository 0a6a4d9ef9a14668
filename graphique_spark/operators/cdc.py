"""Change-data-capture apply: fold an ordered op log into a base snapshot.

The ingestion half of every incremental pipeline: upstream emits
(insert | update | delete) rows with a sequence number; applying them to
the previous snapshot produces the next one without reprocessing history.

Scale shape: the log first collapses to its latest op per key with a
map-side-combinable ``max(struct(seq, op, payload))`` — no window, no
global sort (struct buffers force SortAggregate, whose sorts are
per-partition and stream group-at-a-time; the shuffle still carries one
combined row per key) — so the only full-size work is one anti-join of
the base against the collapsed keys (AQE broadcasts it when the day's
churn is small, the common case). The base never shuffles by value; with
both sides bucketed on the keys the exchange disappears.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import materialize

INSERT, UPDATE, DELETE = "insert", "update", "delete"


def _collapse_log(
    log: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    payload: Sequence[str],
) -> DataFrame:
    """Latest op per key as a map-side-combinable ``max(struct(...))``
    aggregate — the scale-critical collapse shape (no Window, no global
    sort), pinned by tests/test_operators.py before :func:`apply_cdc`
    materializes it for its two consumers."""
    packed = F.struct(
        F.col(seq_col), F.col(op_col), *[F.col(c) for c in payload]
    ).alias("_st")
    return (
        log.select(*keys, packed)
        .groupBy(*keys)
        .agg(F.max("_st").alias("_st"))
        .select(
            *keys,
            F.col(f"_st.{op_col}").alias("_op"),
            *[F.col(f"_st.{c}").alias(c) for c in payload],
        )
    )


def apply_cdc(
    base: DataFrame,
    log: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply a CDC log to ``base``. ``log`` carries the base's columns plus
    ``seq_col`` (monotone per key; the latest wins) and ``op_col``
    ('insert'/'update'/'delete' — insert and update are both upserts, the
    distinction is kept only for the emitter's semantics). Sequence ties
    within a key break deterministically by op string, then payload.
    Returns the next snapshot with the base's schema. The collapsed log is
    materialized when this is called (one Spark job); ``checkpoint_dir``
    writes it to reliable storage instead of executor-local blocks (see
    :func:`graphique_spark.session.materialize`)."""
    keys = list(keys)
    payload = [c for c in base.columns if c not in keys]
    missing = [c for c in payload + keys + [seq_col, op_col] if c not in log.columns]
    if missing:
        raise ValueError(f"apply_cdc: log is missing columns {missing}")
    # materialized: ``latest`` feeds BOTH the anti-join key side and the
    # upsert side — two consumers with different projections below the
    # aggregate, so exchange reuse never covers them and the whole log
    # fold (and everything upstream of the log) would execute twice
    latest = materialize(
        _collapse_log(log, keys, seq_col, op_col, payload), checkpoint_dir
    )
    # null-safe key equality: a plain on=keys anti-join never matches null
    # key values, so ops against null-keyed rows would silently not apply.
    # EqualNullSafe is still a hash-joinable equi-key (no NLJ risk).
    touched_keys = latest.select(*keys)
    cond = None
    for k in keys:
        term = base[k].eqNullSafe(touched_keys[k])
        cond = term if cond is None else cond & term
    untouched = base.join(touched_keys, on=cond, how="anti")
    # only an explicit 'delete' removes the row: `!= DELETE` would be NULL
    # for a null op, silently dropping the row (the anti-join above
    # already removed its base version) — a malformed log row must not be
    # indistinguishable from an intentional delete
    upserts = latest.where(~F.col("_op").eqNullSafe(DELETE)).select(*base.columns)
    return untouched.unionByName(upserts)
