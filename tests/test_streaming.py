"""Structured Streaming surface: batch/stream parity of the window
transformations, and a real micro-batch stream run through a memory sink."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from graphique_spark import streaming

from conftest import slow_full


def test_tumbling_batch(tables, oracle):
    events = tables["events"].df
    out = streaming.tumbling_counts(events, duration="1 hour", by=["event_type"])
    got = out.agg(F.sum("n")).first()[0]
    assert got == events.count()


def test_session_windows_batch(tables):
    events = tables["events"].df
    sessions = streaming.session_windows(events, gap="30 minutes", by=["user_id"])
    stats = sessions.agg(F.sum("n_events").alias("total"), F.count("*").alias("n")).first()
    assert stats["total"] == events.count()
    assert 0 < stats["n"] <= events.count()


def test_streaming_end_to_end(spark, tables):
    """Run the same tumbling aggregation as a real micro-batch stream from
    a file source into a memory sink; totals must match batch mode."""
    events = tables["events"].df
    workdir = tempfile.mkdtemp(prefix="gs_stream_")
    try:
        src = f"{workdir}/src"
        events.limit(500).coalesce(1).write.parquet(src)
        schema = events.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")
        stream = streaming.read_event_stream(spark, src, schema=schema)
        agg = streaming.tumbling_counts(
            stream, duration="1 hour", by=["event_type"], streaming=True, watermark="2 hours"
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("gs_test_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT sum(n) FROM gs_test_sink").first()[0]
        assert got == 500
    finally:
        for q in spark.streams.active:
            q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_stream_write_parquet_sink(spark, tables):
    events = tables["events"].df
    workdir = tempfile.mkdtemp(prefix="gs_sink_")
    try:
        src = f"{workdir}/src"
        events.limit(200).coalesce(1).write.parquet(src)
        schema = events.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")
        stream = streaming.read_event_stream(spark, src, schema=schema)
        q = (
            stream.writeStream.format("parquet")
            .option("path", f"{workdir}/out")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert spark.read.parquet(f"{workdir}/out").count() == 200
    finally:
        for q in spark.streams.active:
            q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_interval_join_stream_batch_parity(spark, tables):
    """The interval join must produce identical pairs as a micro-batch
    stream-stream join (inner joins emit eagerly; watermarks only bound
    state) and in batch mode."""
    events = tables["events"].df
    batch = streaming.interval_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
        keys=["user_id"],
        upper="1 hour",
    )
    expected = batch.count()
    assert expected > 0

    workdir = tempfile.mkdtemp(prefix="gs_ssj_")
    try:
        src = f"{workdir}/src"
        events.coalesce(1).write.parquet(src)
        schema = events.schema.simpleString().replace("struct<", "").rstrip(">").replace(":", " ")
        stream = streaming.read_event_stream(spark, src, schema=schema)
        joined = streaming.interval_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
            keys=["user_id"],
            upper="1 hour",
            streaming=True,
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("gs_ssj_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql("SELECT count(*) FROM gs_ssj_sink").first()[0]
        assert got == expected
    finally:
        for q in spark.streams.active:
            q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def test_upsert_sink_foreachbatch(spark, tables, tmp_path):
    # two micro-batches of events upserted into hive-partitioned parquet:
    # final table must equal the full-batch aggregation
    import os

    from graphique_spark import streaming

    events = tables["events"].df.select("event_id", "user_id", "event_type", "value")
    src = str(tmp_path / "src")
    half = events.limit(400)
    rest = events.subtract(half).limit(400)
    half.coalesce(1).write.mode("append").parquet(src)
    rest.coalesce(1).write.mode("append").parquet(src)
    schema = "event_id bigint, user_id bigint, event_type string, value double"

    stream = streaming.read_event_stream(spark, src, schema=schema, max_files_per_trigger=1)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )
    dest = str(tmp_path / "dest")
    q = streaming.upsert_sink(
        agg, dest, keys=["event_type"], checkpoint=str(tmp_path / "ckpt"),
        trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["event_type"]: (r["n"], round(r["total"], 6))
        for r in spark.read.parquet(dest).collect()
    }
    both = half.unionByName(rest)
    expect = {
        r["event_type"]: (r["n"], round(r["total"], 6))
        for r in both.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == expect


def test_upsert_sink_rejects_non_key_partition_col(spark, tables, tmp_path):
    # a partition column outside the upsert keys would strand stale rows in
    # old partitions when a key's partition value drifts between batches
    import pytest

    from graphique_spark import streaming

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "view", 1.0)], "event_id bigint, event_type string, value double"
    ).write.parquet(src)
    stream = streaming.read_event_stream(
        spark, src, schema="event_id bigint, event_type string, value double",
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    with pytest.raises(ValueError, match="must be one of the upsert keys"):
        streaming.upsert_sink(
            agg, str(tmp_path / "dest"), keys=["event_type"],
            checkpoint=str(tmp_path / "ckpt"), partition_col="n",
        )


def test_cdc_sink_applies_log_across_batches(spark, tmp_path):
    import time as _time

    from graphique_spark import streaming as st

    src = str(tmp_path / "cdc_src")
    rows_b0 = [(k, k % 4, float(k), 1, "insert") for k in range(40)]
    rows_b1 = [(k, k % 4, float(k) + 0.5, 2, "update") for k in range(0, 40, 5)] + [
        (k, k % 4, None, 3, "delete") for k in range(0, 40, 7)
    ]
    # partition 3: delete every remaining key -> directory must vanish
    rows_b2 = [(k, k % 4, None, 4, "delete") for k in range(40) if k % 4 == 3]
    schema = "k long, cohort long, v double, seq int, op string"
    for i, rows in enumerate([rows_b0, rows_b1, rows_b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes: file source must see batch order
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = st.cdc_sink(
        stream,
        dest=str(tmp_path / "snap"),
        keys=["cohort", "k"],
        checkpoint=str(tmp_path / "ckpt"),
        partition_col="cohort",
        available_now=True,
    )
    q.awaitTermination(300)
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(tmp_path / "snap")).collect()}
    expect = {}
    for k in range(40):
        if k % 4 == 3 or k % 7 == 0:
            continue  # deleted (partition purge or row delete)
        expect[k] = float(k) + 0.5 if k % 5 == 0 else float(k)
    assert got == expect
    import glob
    assert not glob.glob(str(tmp_path / "snap" / "cohort=3"))  # dead dir dropped


def test_cdc_sink_drops_dead_partitions_with_escaped_and_null_values(spark, tmp_path):
    # partition values Spark escapes in directory names (':' -> %3A) and
    # nulls (__HIVE_DEFAULT_PARTITION__): a raw f"{part}={value}" path
    # misses the real directory and deleted rows resurrect on re-read
    import glob as _glob
    import time as _time

    from graphique_spark import streaming as st

    src = str(tmp_path / "cdc_src")
    schema = "region string, k long, v double, seq int, op string"
    rows_b0 = [
        ("a:b", 1, 1.0, 1, "insert"),
        ("a:b", 2, 2.0, 1, "insert"),
        ("ok", 3, 3.0, 1, "insert"),
        (None, 4, 4.0, 1, "insert"),
    ]
    rows_b1 = [
        ("a:b", 1, None, 2, "delete"),
        ("a:b", 2, None, 2, "delete"),
        (None, 4, None, 2, "delete"),
    ]
    for rows in [rows_b0, rows_b1]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = st.cdc_sink(
        stream,
        dest=str(tmp_path / "snap"),
        keys=["region", "k"],
        checkpoint=str(tmp_path / "ckpt"),
        partition_col="region",
        available_now=True,
    )
    q.awaitTermination(300)
    got = [
        (r["region"], r["k"], r["v"])
        for r in spark.read.parquet(str(tmp_path / "snap")).collect()
    ]
    assert got == [("ok", 3, 3.0)]
    assert not _glob.glob(str(tmp_path / "snap" / "region=a%3Ab"))
    assert not _glob.glob(str(tmp_path / "snap" / "region=__HIVE_DEFAULT_PARTITION__"))
    assert _glob.glob(str(tmp_path / "snap" / "region=ok"))


@slow_full  # ~16s edge-case twin: default dead-dir/null-partition
# coverage lives in test_cdc_sink_drops_dead_partitions_with_escaped_...
def test_cdc_sink_empty_string_partition_shares_default_dir(spark, tmp_path):
    # Spark's writer sends '' AND null to __HIVE_DEFAULT_PARTITION__: the
    # dead-dir delete must (a) find the dir for a dead '' value and (b)
    # NOT delete it while the other claimant (null) still has rows
    import glob as _glob
    import time as _time

    from graphique_spark import streaming as st

    src = str(tmp_path / "cdc_src")
    schema = "region string, k long, v double, seq int, op string"
    batches = [
        [("", 1, 1.0, 1, "insert"), (None, 2, 2.0, 1, "insert"),
         ("ok", 3, 3.0, 1, "insert")],
        [("", 1, None, 2, "delete")],   # '' dies, null still claims the dir
        [(None, 2, None, 3, "delete")],  # now the default dir is truly dead
    ]
    dflt = str(tmp_path / "snap" / "region=__HIVE_DEFAULT_PARTITION__")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = st.cdc_sink(
            stream,
            dest=str(tmp_path / "snap"),
            keys=["region", "k"],
            checkpoint=str(tmp_path / "ckpt"),
            partition_col="region",
            available_now=True,
        )
        q.awaitTermination(300)

    run_batch(batches[0])
    assert _glob.glob(dflt + "/*.parquet")
    run_batch(batches[1])
    # null's row must survive in the shared directory
    assert _glob.glob(dflt + "/*.parquet"), "shared dir deleted under a survivor"
    got = {
        (r["region"], r["k"])
        for r in spark.read.parquet(str(tmp_path / "snap")).collect()
    }
    assert got == {(None, 2), ("ok", 3)}
    run_batch(batches[2])
    assert not _glob.glob(dflt), "dead '' / null partition dir must be deleted"
    got = {
        (r["region"], r["k"])
        for r in spark.read.parquet(str(tmp_path / "snap")).collect()
    }
    assert got == {("ok", 3)}


def test_upsert_sink_null_partition_and_null_keys(spark, tmp_path):
    # null partition values live in __HIVE_DEFAULT_PARTITION__: a non-null-
    # safe semi/anti join would (a) drop unrelated stored rows when that
    # directory is dynamically overwritten and (b) duplicate null-keyed rows
    import time as _time

    from graphique_spark import streaming as st

    src = str(tmp_path / "src")
    schema = "grp string, k long, total double"
    batches = [
        [(None, 1, 10.0), (None, 2, 20.0), ("a", 3, 30.0)],
        # update only key (None, 1): key 2 must SURVIVE the default-dir
        # rewrite; the updated row must replace, not duplicate
        [(None, 1, 11.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _time.sleep(1.1)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = st.upsert_sink(
            stream,
            dest=str(tmp_path / "dest"),
            keys=["grp", "k"],
            checkpoint=str(tmp_path / "ckpt"),
            partition_col="grp",
            available_now=True,
        )
        q.awaitTermination(300)
    got = {
        (r["grp"], r["k"], r["total"])
        for r in spark.read.parquet(str(tmp_path / "dest")).collect()
    }
    assert got == {(None, 1, 11.0), (None, 2, 20.0), ("a", 3, 30.0)}


def test_upsert_sink_string_partition_values_round_trip(spark, tmp_path):
    # regression: reading dest WITHOUT a schema let partition-type
    # inference retype region='0123' as int 123, so the rewrite landed in
    # a NEW directory while dynamic overwrite left the stale one — the
    # final table held both the old and new value for the same key
    src = str(tmp_path / "src")
    schema = "region string, user string, val double"
    spark.createDataFrame(
        [("0123", "A", 1.0), ("0123", "B", 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([("0123", "A", 9.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = streaming.read_event_stream(
        spark, src, schema=schema, max_files_per_trigger=1
    )
    dest = str(tmp_path / "dest")
    q = streaming.upsert_sink(
        stream, dest, keys=["region", "user"],
        checkpoint=str(tmp_path / "ckpt"), trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["region"], r["user"]): r["val"]
        for r in spark.read.schema(schema).parquet(dest).collect()
    }
    assert got == {("0123", "A"): 9.0, ("0123", "B"): 2.0}


def test_interval_join_output_chains(spark):
    # regression: the output carries r_* columns; feeding it back as the
    # left of a second interval_join used to make r_ts ambiguous
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    once = streaming.interval_join(left, right, keys=["k"])
    assert once.count() == 1
    twice = streaming.interval_join(once, right, keys=["k"])
    assert twice.count() == 1
    assert len(set(twice.columns)) == len(twice.columns)  # no dup names


def test_windowed_agg_drops_rows_older_than_watermark(spark, tmp_path):
    """Watermark semantics e2e: a row whose event time is older than the
    late-event watermark must be EXCLUDED from the windowed aggregate.

    Since Spark 3.4 (SPARK-40925, multi-stateful-operator support) late
    events are filtered against the PREVIOUS batch's watermark while
    state eviction uses the current one — so the drop guarantee lags one
    micro-batch. Three batches: batch 0 advances max event time to
    04:00; batch 1 turns that into the eviction watermark (03:00);
    batch 2's 00:30 row is then older than the late-event watermark and
    must vanish, while its 03:45 row still lands. Update-mode memory
    sink: each batch emits only changed windows, so a leaked late row
    would surface as an extra update for the first window."""
    import datetime
    import time as _time

    from graphique_spark import streaming as st

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    src = str(tmp_path / "src")
    schema = "event_id long, ts timestamp"
    batches = [
        [(1, at(0)), (2, at(240))],  # max 04:00 -> watermark 03:00 after b0
        [(3, at(210))],              # watermark-for-late becomes 03:00 at b2
        [(4, at(30)), (5, at(225))],  # 00:30 < 03:00 -> dropped; 03:45 kept
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes: file source must see batch order

    stream = st.read_event_stream(spark, src, schema=schema)
    agg = st.tumbling_counts(
        stream, duration="1 hour", streaming=True, watermark="1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("gs_late_drop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
        got = sorted(
            (r["window_start"], r["n"])
            for r in spark.sql("SELECT * FROM gs_late_drop").collect()
        )
        # one update per changed window per batch; event 4 never counted —
        # the 00:00 window must never re-emit with n=2
        assert got == [
            (at(0), 1),       # batch 0
            (at(180), 1),     # batch 1: 03:30 row
            (at(180), 2),     # batch 2: 03:45 joins the 03:00 window
            (at(240), 1),     # batch 0
        ], got
    finally:
        for active in spark.streams.active:
            active.stop()


def test_streaming_global_session_window_raises(tables):
    """Spark only rejects global session-window aggregation once the stream
    starts; session_windows must refuse at plan-build time instead."""
    import pytest as _pytest

    events = tables["events"].df
    with _pytest.raises(ValueError, match="grouping key"):
        streaming.session_windows(events, gap="30 minutes", by=None, streaming=True)


def _force_replay(checkpoint: str) -> tuple[str, int]:
    """Simulate a crash between sink write and commit: clone the checkpoint
    (a restarted driver sees a fresh path — in-session reuse trips Spark's
    concurrent-checkpoint guard) and remove the newest commit marker, so a
    restart on the clone REPLAYS the last micro-batch into foreachBatch
    with the same batch id."""
    import os
    import shutil

    clone = checkpoint + "_replay"
    shutil.copytree(checkpoint, clone)
    commits = os.path.join(clone, "commits")
    ids = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(ids[-1])))
    # drop Hadoop's checksum sidecar too: a stale .N.crc makes the local FS
    # reject the re-commit as a concurrent modification
    crc = os.path.join(commits, f".{ids[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return clone, ids[-1]


def test_upsert_sink_replay_idempotent(spark, tmp_path):
    """Exactly-once under crash recovery: replaying the final micro-batch
    (same batch id, same data) through the upsert sink must leave the
    table byte-identical — the merge rewrites touched partitions from
    deterministic state, it never increments."""
    import os

    from graphique_spark import streaming as st

    src = str(tmp_path / "src")
    schema = "user_id long, cohort long, value double"
    for b in range(3):
        rows = [(u, u % 3, float(b * 100 + u)) for u in range(b, 30, 3)]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for fn in os.listdir(src):
            p = os.path.join(src, fn)
            if fn.endswith(".parquet") and os.path.getmtime(p) > 1_000_000 + b:
                os.utime(p, (1_000_000 + b,) * 2)

    def run(ckpt):
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        totals = stream.groupBy("cohort", "user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum")
        )
        q = st.upsert_sink(
            totals,
            dest=str(tmp_path / "table"),
            keys=["cohort", "user_id"],
            checkpoint=ckpt,
            partition_col="cohort",
            available_now=True,
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt"))
    before = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "table")).collect()
    )
    clone, replayed = _force_replay(str(tmp_path / "ckpt"))
    run(clone)  # restarts from the cloned checkpoint, replays batch `replayed`
    after = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "table")).collect()
    )
    assert replayed >= 1
    assert after == before


def test_cdc_sink_replay_idempotent(spark, tmp_path):
    """Replaying the final op-log micro-batch (inserts + updates + deletes)
    through the CDC sink must leave the snapshot identical: apply_cdc
    resolves by (key, seq), so the same ops land on the same state."""
    import os

    from graphique_spark import streaming as st

    src = str(tmp_path / "src")
    schema = "k long, cohort long, v double, seq int, op string"
    batches = [
        [(k, k % 3, float(k), 1, "insert") for k in range(30)],
        [(k, k % 3, float(k) + 0.5, 2, "update") for k in range(0, 30, 5)],
        [(k, k % 3, None, 3, "delete") for k in range(0, 30, 7)],
    ]
    for b, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        for fn in os.listdir(src):
            p = os.path.join(src, fn)
            if fn.endswith(".parquet") and os.path.getmtime(p) > 1_000_000 + b:
                os.utime(p, (1_000_000 + b,) * 2)

    def run(ckpt):
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        q = st.cdc_sink(
            stream,
            dest=str(tmp_path / "snap"),
            keys=["cohort", "k"],
            checkpoint=ckpt,
            partition_col="cohort",
            available_now=True,
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt"))
    before = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "snap")).collect()
    )
    clone, replayed = _force_replay(str(tmp_path / "ckpt"))
    run(clone)
    after = sorted(
        tuple(r) for r in spark.read.parquet(str(tmp_path / "snap")).collect()
    )
    assert replayed >= 1
    assert after == before


def test_windowed_rollup_chained_stateful_stream(spark, tables):
    """Two stateful aggregations in ONE streaming query (fine tumbling
    count -> window_time() -> coarse rollup, Spark 3.4+ chained
    aggregations, append mode): emitted coarse windows must match the
    batch rollup exactly, and every batch window whose end the final
    watermark passed must have been emitted."""
    import os

    events = tables["events"].df.select("ts", "event_type", "value")
    workdir = tempfile.mkdtemp(prefix="gs_rollup_")
    try:
        src = f"{workdir}/src"
        events.coalesce(1).write.parquet(src)
        stream = streaming.read_event_stream(
            spark, src, schema="ts timestamp, event_type string, value double"
        )
        out = streaming.windowed_rollup(
            stream, fine="5 minutes", coarse="1 hour", by=["event_type"],
            value="value", streaming=True, watermark="2 hours",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("gs_rollup_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["value_sum"])
            for r in spark.sql("SELECT * FROM gs_rollup_sink").collect()
        }
        batch = streaming.windowed_rollup(
            events, fine="5 minutes", coarse="1 hour", by=["event_type"], value="value"
        )
        want_all = {
            (r["window_start"], r["event_type"]): (r["n"], r["value_sum"])
            for r in batch.collect()
        }
        max_ts = events.agg(F.max("ts")).first()[0]
        import datetime

        final_wm = max_ts - datetime.timedelta(hours=2)
        finalized = {
            k: v
            for k, v in want_all.items()
            if k[0] + datetime.timedelta(hours=1) <= final_wm
        }
    finally:
        for q in spark.streams.active:
            q.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    assert got.items() <= want_all.items()   # nothing invented or miscounted
    assert finalized.items() <= got.items()  # everything finalized was emitted
    assert len(finalized) > 0                # the parity claim isn't vacuous


def test_windowed_rollup_rejects_non_multiple_granularity(tables):
    """A fine window straddling a coarse boundary silently misassigns all
    its rows to the coarse window containing its end — refuse up front."""
    with pytest.raises(ValueError, match="whole multiple"):
        streaming.windowed_rollup(
            tables["events"].df, fine="7 minutes", coarse="1 hour"
        )


def test_windowed_rollup_update_mode_rejected_at_start(spark, tmp_path):
    """Chained stateful aggregations are append-only in streaming: Spark
    must refuse update mode AT QUERY START (AnalysisException on the
    global-watermark correctness pattern), never run-and-discard. Pinned
    so a Spark upgrade that silently relaxes this to a runtime behavior
    change gets caught here."""
    import datetime

    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1), 1.0)],
        "event_type string, ts timestamp, value double",
    ).write.parquet(src)
    stream = streaming.read_event_stream(
        spark, src, schema="event_type string, ts timestamp, value double"
    )
    out = streaming.windowed_rollup(
        stream, fine="5 minutes", coarse="1 hour", streaming=True
    )
    with pytest.raises(AnalysisException, match="watermark"):
        q = (
            out.writeStream.format("memory")
            .queryName("rollup_update_rejected")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        # defensive: if a future Spark starts the query, don't leak it
        q.stop()


def test_windowed_rollup_file_sink_replay_idempotent(spark, tmp_path):
    """Crash-replay exactly-once for CHAINED stateful aggregations through
    the transactional file sink: clone the checkpoint, drop the newest
    commit marker, restart — the replayed micro-batch must not duplicate
    any emitted coarse window (the sink's _spark_metadata manifest skips
    the already-committed batch; the two-level agg state replays to the
    same deterministic output)."""
    import datetime
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = datetime.datetime(2024, 1, 1)
    seen = set()
    plan = [
        [("a", 0), ("a", 20), ("b", 40)],   # minutes; windows [0,60) fill
        [("a", 300)],                        # wm -> 240: finalizes [0,60)
        [("b", 600)],                        # wm -> 540: finalizes [240,300)
    ]
    for b, events in enumerate(plan):
        spark.createDataFrame(
            [(k, t0 + datetime.timedelta(minutes=m), 1.0) for k, m in events],
            "event_type string, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)
        for fn in os.listdir(src):
            if fn.endswith(".parquet") and fn not in seen:
                seen.add(fn)
                os.utime(os.path.join(src, fn), (1_000_000 + b, 1_000_000 + b))
    out = str(tmp_path / "out")

    def run(ckpt):
        stream = streaming.read_event_stream(
            spark, src, schema="event_type string, ts timestamp, value double"
        )
        rolled = streaming.windowed_rollup(
            stream, fine="30 minutes", coarse="1 hour", by=["event_type"],
            value="value", streaming=True, watermark="1 hour",
        )
        q = (
            rolled.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run(str(tmp_path / "ckpt"))
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    clone, replayed = _force_replay(str(tmp_path / "ckpt"))
    run(clone)
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert replayed >= 1
    assert after == before
    # and the run emitted real windows (non-vacuous): [0,60)x{a,b} at least
    assert len(before) >= 2


@slow_full  # ~36s: file-sink crash-replay idempotence stays default via
# test_windowed_rollup_file_sink_replay_idempotent; interval-join parity
# stays default via test_interval_join_stream_batch_parity
def test_interval_join_window_file_sink_replay_idempotent(spark, tmp_path):
    """Crash-replay exactly-once for the stream-stream interval-join ->
    tumbling-window chain through the transactional file sink (VERDICT r09
    item 6 — the one streaming path that had parity fuzzers but no
    checkpoint-replay proof): clone the checkpoint, drop the newest commit
    marker, restart — the replayed micro-batch must leave the output
    byte-identical (the sink's _spark_metadata manifest skips the
    already-committed batch id; join + window state replays to the same
    deterministic rows)."""
    import datetime
    import os

    t0 = datetime.datetime(2024, 1, 1)
    # 3 single-file batches per side; the final sentinel pair pushes both
    # input watermarks to 270 min, so with the join's output watermark
    # delayed by the 12-minute upper bound the [0,30) window finalizes
    # with its complete count of 2 pairs: (l@0,r@5) and (l@10,r@15)
    plan = {
        "l": [[("a", 0)], [("a", 10)], [("a", 300)]],
        "r": [[("a", 5)], [("a", 15)], [("a", 300)]],
    }
    for side, side_batches in plan.items():
        src = str(tmp_path / side)
        os.makedirs(src)
        seen = set()
        for b, events in enumerate(side_batches):
            spark.createDataFrame(
                [(k, t0 + datetime.timedelta(minutes=m)) for k, m in events],
                "k string, ts timestamp",
            ).coalesce(1).write.mode("append").parquet(src)
            for fn in os.listdir(src):
                if fn.endswith(".parquet") and fn not in seen:
                    seen.add(fn)
                    os.utime(os.path.join(src, fn), (1_000_000 + b, 1_000_000 + b))
    out = str(tmp_path / "out")

    def run(ckpt):
        left = streaming.read_event_stream(
            spark, str(tmp_path / "l"), schema="k string, ts timestamp"
        )
        right = streaming.read_event_stream(
            spark, str(tmp_path / "r"), schema="k string, ts timestamp"
        )
        joined = streaming.interval_join(
            left, right, ["k"], upper="12 minutes",
            watermark="30 minutes", streaming=True,
        )
        agg = streaming.tumbling_counts(
            joined, ts="ts", duration="30 minutes", by=["k"], streaming=False
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run(str(tmp_path / "ckpt"))
    before = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    clone, replayed = _force_replay(str(tmp_path / "ckpt"))
    run(clone)
    after = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert replayed >= 1
    assert after == before
    # non-vacuous: the finalized [0,30) x 'a' window with its full count
    assert (t0, "a", 2) in before
