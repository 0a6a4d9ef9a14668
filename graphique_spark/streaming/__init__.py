"""Structured Streaming surface.

The reference has no streaming at all (SURVEY §2.10); this is the
from-scratch extension. Design: every transformation here is written
against a plain DataFrame so the *same function* works in batch mode (for
testing/backfill) and on a ``readStream`` source — the Structured
Streaming model's core property. Event-time semantics come from
``withWatermark`` + ``window()``/``session_window()``.

At scale: watermarks bound state size; tumbling/session aggregations
shuffle once on (key, window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import materialize


def _duration_ms(spec: str) -> int:
    """Parse '24 hours' / '30 minutes' / '90 seconds' / '7 days' to ms."""
    value, unit = spec.split()
    factor = {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(float(value) * factor)


def read_parquet_if_exists(spark, path: str, schema=None) -> DataFrame | None:
    """Read a parquet root, returning ``None`` ONLY when the path is
    genuinely missing (first batch of an incremental sink). Any other read
    failure — fs hiccup, metadata conflict — re-raises so a streaming
    checkpoint retries the batch; swallowing it would make incremental
    merges silently treat existing state as empty.

    Incremental sinks MUST pass ``schema`` (their batch schema): without
    it, partition-directory type inference retypes string partition
    values (region=0123 reads back as int 123), so the rewrite lands in a
    NEW directory while dynamic overwrite leaves the stale one — silent
    key corruption and duplicated rows. An explicit schema also makes an
    existing-but-empty dest (a CDC batch that deleted every row) read as
    an empty frame instead of raising UNABLE_TO_INFER_SCHEMA forever."""
    from pyspark.errors import AnalysisException

    try:
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(path)
    except AnalysisException as exc:
        condition = None
        for getter in ("getCondition", "getErrorClass"):
            fn = getattr(exc, getter, None)
            if fn is not None:
                try:
                    condition = fn()
                    break
                except Exception:  # noqa: BLE001
                    continue
        missing = (condition or "").startswith("PATH_NOT_FOUND") or (
            condition is None and "PATH_NOT_FOUND" in str(exc)
        )
        if not missing:
            raise
        return None


def read_event_stream(
    spark,
    path: str,
    schema: str | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int = 1,
):
    """Root a streaming Dataset at a file source (parquet dir = the
    standard landing-zone pattern)."""
    reader = spark.readStream.format(fmt).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)


def tumbling_counts(
    df: DataFrame,
    ts: str = "ts",
    duration: str = "1 hour",
    by: list[str] | None = None,
    watermark: str = "2 hours",
    value: str | None = None,
    streaming: bool = False,
) -> DataFrame:
    """Tumbling event-time window aggregation; identical logic in batch
    and streaming (pass ``streaming=True`` on a readStream frame to attach
    the watermark)."""
    if streaming:
        df = df.withWatermark(ts, watermark)
    keys = [F.window(F.col(ts), duration).alias("win")] + [F.col(c) for c in (by or [])]
    aggs = [F.count(F.lit(1)).alias("n")]
    if value:
        aggs += [F.sum(value).alias("total"), F.avg(value).alias("mean")]
    out = df.groupBy(*keys).agg(*aggs)
    value_cols = ["n"] + (["total", "mean"] if value else [])
    return out.select(F.col("win.start").alias("window_start"), *(by or []), *value_cols)


def sliding_counts(
    df: DataFrame,
    ts: str = "ts",
    duration: str = "1 hour",
    slide: str = "30 minutes",
    by: list[str] | None = None,
    streaming: bool = False,
    watermark: str = "2 hours",
) -> DataFrame:
    if streaming:
        df = df.withWatermark(ts, watermark)
    keys = [F.window(F.col(ts), duration, slide).alias("win")] + [
        F.col(c) for c in (by or [])
    ]
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), *(by or []), "n")
    )


def session_windows(
    df: DataFrame,
    ts: str = "ts",
    gap: str = "30 minutes",
    by: list[str] | None = None,
    streaming: bool = False,
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via ``session_window`` (merging windows in
    streaming mode; plain aggregation in batch)."""
    if streaming:
        if not by:
            # fail at plan-build time with an actionable message: Spark
            # rejects GLOBAL session-window aggregation only once the
            # stream starts ("Global aggregation with session window in
            # streaming query is not supported"), inside the query thread
            raise ValueError(
                "streaming session windows require at least one grouping key "
                "(Spark does not support global session-window aggregation in "
                "streaming); pass by=[...] or add a constant key column"
            )
        df = df.withWatermark(ts, watermark)
    keys = [F.session_window(F.col(ts), gap).alias("win")] + [F.col(c) for c in (by or [])]
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *(by or []),
            "n_events",
        )
    )


def windowed_rollup(
    df: DataFrame,
    ts: str = "ts",
    fine: str = "5 minutes",
    coarse: str = "1 hour",
    by: list[str] | None = None,
    value: str | None = None,
    streaming: bool = False,
    watermark: str = "2 hours",
) -> DataFrame:
    """Two-level windowed rollup: count/sum at ``fine`` granularity, then
    re-aggregate into ``coarse`` windows via ``window_time()`` event-time
    propagation — CHAINED stateful operators (multiple stateful aggs in
    one streaming query, Spark 3.4+; append mode only when streaming).

    The 100 TB shape: the fine level pre-reduces a high-rate stream by
    orders of magnitude map-side-equivalently before the coarse shuffle,
    and the coarse state store holds one row per (coarse window, key)
    instead of per event. ``coarse`` must be a multiple of ``fine`` for
    exact rollup semantics. Batch mode runs the identical two-level plan
    for oracle checks.
    """
    fine_ms, coarse_ms = _duration_ms(fine), _duration_ms(coarse)
    if coarse_ms % fine_ms != 0:
        # a fine window straddling a coarse boundary would silently assign
        # ALL its rows to the coarse window containing its end
        raise ValueError(
            f"coarse ({coarse}) must be a whole multiple of fine ({fine}) "
            "for exact rollup semantics"
        )
    if streaming:
        df = df.withWatermark(ts, watermark)
    keys = [F.window(F.col(ts), fine).alias("__w1")] + [F.col(c) for c in (by or [])]
    aggs = [F.count(F.lit(1)).alias("__n1")]
    if value is not None:
        aggs.append(F.sum(value).alias("__v1"))
    fine_agg = df.groupBy(*keys).agg(*aggs)
    # window_time() marks the fine window's event-time so a SECOND
    # stateful aggregation is allowed downstream
    keys2 = [F.window(F.window_time("__w1"), coarse).alias("__w2")] + [
        F.col(c) for c in (by or [])
    ]
    aggs2 = [F.sum("__n1").alias("n")]
    if value is not None:
        aggs2.append(F.sum("__v1").alias("value_sum"))
    coarse_agg = fine_agg.groupBy(*keys2).agg(*aggs2)
    return coarse_agg.select(
        F.col("__w2.start").alias("window_start"),
        *(by or []),
        "n",
        *(["value_sum"] if value is not None else []),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = False,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: match rows with equal
    ``keys`` whose right timestamp falls in
    ``[left_ts - lower, left_ts + upper]`` — the canonical event-correlation
    join (click -> purchase attribution, request -> response pairing).

    In streaming mode both sides carry watermarks and the time-bound join
    condition lets Spark expire join state once the watermark passes
    ``upper`` — state is bounded by (watermark + interval) x arrival rate,
    never the full history. Batch mode runs the identical condition for
    backfills and oracle checks. The equality ``keys`` keep it a hash
    join partitioned by key; without keys it would degenerate to a
    broadcast-nested-loop range join.
    """
    # collision-proof right prefix: feeding one interval_join's output
    # (which carries r_* columns) into another would otherwise make
    # r_<ts> ambiguous and crash the chained pipeline
    prefix = "r_"
    existing = set(left.columns)
    while any(f"{prefix}{c}" in existing for c in right.columns):
        prefix = "r" + prefix
    l = left
    r = right.select(*[F.col(c).alias(f"{prefix}{c}") for c in right.columns])
    if streaming:
        l = l.withWatermark(left_ts, watermark)
        r = r.withWatermark(f"{prefix}{right_ts}", watermark)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"{prefix}{k}"))
    cond = (
        cond
        & (F.col(f"{prefix}{right_ts}") >= F.col(left_ts) - F.expr(f"INTERVAL {lower}"))
        & (F.col(f"{prefix}{right_ts}") <= F.col(left_ts) + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


def upsert_sink(
    df: DataFrame,
    dest: str,
    keys: list[str],
    checkpoint: str,
    partition_col: str | None = None,
    trigger_seconds: int = 60,
    available_now: bool = False,
):
    """Update-mode upsert into hive-partitioned parquet via ``foreachBatch``
    — the table-format-free merge pattern for aggregation streams.

    Each micro-batch holds the CHANGED (key, aggregate) rows (update
    output mode); the batch function rewrites only the hive partitions
    those keys touch: read the affected partitions, anti-join out stale
    rows, union the new ones, and dynamically overwrite just those
    partitions (``partitionOverwriteMode=dynamic``). Batch idempotence
    comes from the rewrite being a pure function of (existing ∪ batch);
    re-running a failed batch converges to the same partition contents,
    and the checkpoint serializes batch ids.

    ``partition_col`` defaults to the first key and MUST be one of
    ``keys``: the anti-join only rewrites partitions touched by the
    current batch, so a key whose partition value could drift between
    batches would leave a stale duplicate in its old partition."""
    part = partition_col or keys[0]
    if part not in keys:
        raise ValueError(
            f"partition_col {part!r} must be one of the upsert keys {keys}: "
            "the merge only rewrites partitions touched by the batch, so a "
            "non-key partition column would strand stale rows when a key "
            "moves between partitions"
        )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        from pyspark.sql import types as _T

        if isinstance(batch.schema[part].dataType, _T.StringType):
            # '' cannot round-trip a partitioned layout (the writer stores
            # it as __HIVE_DEFAULT_PARTITION__, which reads back as null)
            batch = batch.withColumn(part, F.nullif(F.col(part), F.lit("")))
        existing = read_parquet_if_exists(spark, dest, schema=batch.schema)
        if existing is not None:
            # materialized: the touched partitions, the batch keys and the
            # union all read the batch
            batch = materialize(batch)
            # null-safe joins throughout: a plain on= join never
            # matches NULL, which would (a) exclude the stored
            # null-partition rows from `keep` so the dynamic overwrite
            # of __HIVE_DEFAULT_PARTITION__ drops them, and (b) let a
            # null-keyed row survive its own update, duplicating keys
            touched = batch.select(F.col(part).alias("__tp")).distinct()
            affected = existing.join(
                F.broadcast(touched),
                existing[part].eqNullSafe(touched["__tp"]),
                "semi",
            )
            bkeys = batch.select(
                *[F.col(k).alias(f"__bk_{k}") for k in keys]
            ).distinct()
            anti_cond = None
            for k in keys:
                c = affected[k].eqNullSafe(bkeys[f"__bk_{k}"])
                anti_cond = c if anti_cond is None else anti_cond & c
            keep = affected.join(bkeys, anti_cond, "anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        # materialize before overwriting dest: the merged plan reads
        # from dest, and the barrier guarantees no task re-scans a
        # partition that the commit phase is about to replace
        merged = materialize(merged)
        (
            merged.repartition(part)
            .write.partitionBy(part)
            # per-write dynamic overwrite: never mutate the shared
            # session conf (it would change overwrite semantics of
            # unrelated writes elsewhere in the application)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(dest)
        )

    writer = (
        df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def cdc_sink(
    log: DataFrame,
    dest: str,
    keys: list[str],
    checkpoint: str,
    seq_col: str = "seq",
    op_col: str = "op",
    partition_col: str | None = None,
    trigger_seconds: int = 60,
    available_now: bool = False,
):
    """Streaming CDC apply: fold a change stream (insert/update/delete
    rows with a sequence number) into a hive-partitioned parquet snapshot,
    one micro-batch at a time — the table-format-free materialized-replica
    pattern (Debezium topic -> queryable table).

    Each batch applies :func:`graphique_spark.operators.cdc.apply_cdc`
    against ONLY the partitions the batch touches (``partition_col`` must
    be one of ``keys``, so a key's partition can never drift between
    batches) and dynamically overwrites exactly those partitions. A
    partition whose last surviving row was deleted cannot be rewritten by
    dynamic overwrite — those directories are dropped explicitly through
    the Hadoop FS API, which is idempotent under checkpoint-driven batch
    retries. Both the touched-partition list and the op log are bounded by
    the batch, never by table history."""
    from graphique_spark.operators.cdc import apply_cdc

    part = partition_col or keys[0]
    if part not in keys:
        raise ValueError(
            f"partition_col {part!r} must be one of the CDC keys {keys} "
            "(a key whose partition changes between batches would strand "
            "its old row in an untouched partition)"
        )

    def partition_dirname(spark, value) -> str:
        """Directory name Spark's dynamic-partition writer creates for
        ``part=value``: the value is rendered by a SQL cast-to-string in
        the session timezone, nulls become the Hive default-partition
        sentinel, and both name and value go through Spark's own
        ``ExternalCatalogUtils.escapePathName`` — a raw Python
        f"{part}={value}" mismatches for special characters, nulls, and
        date/timestamp formatting, silently stranding deleted rows."""
        utils = (
            spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils
        )
        if value is None or value == "":
            # getPartitionPathString sends null AND '' to the default
            # partition directory
            escaped = "__HIVE_DEFAULT_PARTITION__"
        else:
            escaped = utils.escapePathName(value)
        return f"{utils.escapePathName(part)}={escaped}"

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        from pyspark.sql import types as _T

        if isinstance(batch.schema[part].dataType, _T.StringType):
            # a partitioned write stores '' as __HIVE_DEFAULT_PARTITION__,
            # which reads back as NULL — '' cannot round-trip through the
            # layout, so normalize it to null up front or a later
            # delete/update keyed on '' never matches its stored row
            batch = batch.withColumn(part, F.nullif(F.col(part), F.lit("")))
        # materialized: the touched-partition collect and apply_cdc both
        # read the batch
        batch = materialize(batch)
        # collect partition values as Spark-rendered STRINGS (the cast
        # matches what the partitioned write puts in the path), keyed
        # alongside the raw value for the isin() pushdown below
        touched_rows = (
            batch.select(
                F.col(part).alias("__raw"),
                F.col(part).cast("string").alias("__str"),
            )
            .distinct()
            .collect()
        )
        touched = [r["__raw"] for r in touched_rows]
        if not touched:
            return
        # '' was normalized to NULL above (it cannot round-trip a
        # partitioned layout), so only None can mark the
        # __HIVE_DEFAULT_PARTITION__ directory here
        if any(v is None for v in touched):
            touched = [v for v in touched if v is not None] + [None]
        payload = [c for c in batch.columns if c not in (seq_col, op_col)]
        existing = read_parquet_if_exists(
            spark, dest, schema=batch.select(payload).schema
        )
        if existing is not None:
            # isin([None]) is never true — null partitions need isNull
            cond = F.col(part).isin([v for v in touched if v is not None])
            if any(v is None for v in touched):
                cond = cond | F.col(part).isNull()
            base = existing.where(cond).select(payload)
        else:
            base = batch.select(payload).limit(0)
        # materialize before overwriting dest: the merged plan reads
        # from dest, and the barrier guarantees no task re-scans a
        # partition the commit phase is about to replace
        merged = materialize(
            apply_cdc(base, batch, keys=keys, seq_col=seq_col, op_col=op_col)
        )
        (
            merged.repartition(part)
            .write.partitionBy(part)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(dest)
        )
        # partitions whose every row was deleted never appear in the
        # dynamic-overwrite output — drop their directories explicitly,
        # matching on the Spark-rendered string form (None survives the
        # cast as None on both sides, so null partitions compare too)
        survivors = {
            r[0]
            for r in merged.select(F.col(part).cast("string"))
            .distinct()
            .collect()
        }
        dead = [r["__str"] for r in touched_rows if r["__str"] not in survivors]
        if dead and existing is not None:
            # null and '' map to the SAME directory; only delete a
            # directory no survivor value still claims
            survivor_dirs = {partition_dirname(spark, s) for s in survivors}
            dead_dirs = {partition_dirname(spark, p) for p in dead}
            jvm = spark.sparkContext._jvm
            conf = spark.sparkContext._jsc.hadoopConfiguration()
            for dirname in sorted(dead_dirs - survivor_dirs):
                path = jvm.org.apache.hadoop.fs.Path(f"{dest}/{dirname}")
                fs = path.getFileSystem(conf)
                fs.delete(path, True)

    writer = (
        log.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
