"""Operator-surface semantics (modeled on reference tests/test_service.py)."""

import pytest
from pyspark.sql import functions as F

from graphique_spark import Agg, Filter


def test_count_and_any(tables):
    nation = tables["nation"]
    assert nation.count() == 25
    assert nation.any()
    assert not nation.filter(n_name={"eq": ["NOPE"]}).any()


def test_filter_eq_list_semantics(tables):
    """eq one-elt ==, multi isin, empty matches nothing, null matches nothing
    (reference test_service.py:156-159)."""
    nation = tables["nation"]
    assert nation.filter(n_regionkey={"eq": [0]}).count() == 5
    assert nation.filter(n_regionkey={"eq": [0, 1]}).count() == 10
    assert nation.filter(n_regionkey={"eq": []}).count() == 0
    assert nation.filter(n_regionkey=Filter(eq=None)).count() == 0
    assert nation.filter(n_regionkey={"ne": [0]}).count() == 20


def test_filter_ranges_compose(tables):
    nation = tables["nation"]
    assert nation.filter(n_regionkey={"ge": 1, "lt": 3}).count() == 10
    # consecutive filters AND together
    assert nation.filter(n_regionkey={"ge": 1}).filter(n_regionkey={"lt": 2}).count() == 5


def test_slice_semantics(tables):
    nation = tables["nation"].order(by=["n_nationkey"])
    assert nation.slice(0, 5).count() == 5
    assert nation.slice(20).count() == 5
    assert nation.slice(-3).count() == 3
    assert nation.slice(100, 5).count() == 0
    keys = nation.slice(5, 3).values("n_nationkey")
    assert keys == [5, 6, 7]


def test_row_and_values(tables):
    nation = tables["nation"].order(by=["n_nationkey"])
    assert nation.row(0)["n_nationkey"] == 0
    assert nation.row(3)["n_nationkey"] == 3
    with pytest.raises(IndexError):
        nation.slice(0, 2).row(7)


def test_take_positional(tables):
    nation = tables["nation"]
    taken = nation.take([0, 5, 24])
    assert taken.count() == 3


def test_group_aggregates(tables):
    li = tables["lineitem"]
    out = li.group(
        by=["l_returnflag"],
        counts="n",
        aggregate=[
            Agg("sum", "l_quantity", alias="qty"),
            Agg("nunique", "l_orderkey", alias="orders"),
            Agg("quantile", "l_quantity", alias="med", q=0.5),
        ],
    )
    rows = {r["l_returnflag"]: r for r in out.df.collect()}
    assert set(rows) == {"A", "N", "R"}
    assert all(r["n"] > 0 and r["qty"] > 0 and r["orders"] > 0 for r in rows.values())


def test_multi_quantile_merge_and_duplicate_instance(tables):
    """N plain quantiles of one column collapse into a single percentile
    buffer (_merge_quantile_aggs) with values identical to separate
    aggregates — including when the SAME Agg instance appears twice, which
    used to KeyError on the id()-keyed slot map (ADVICE r12)."""
    li = tables["lineitem"]
    dup = Agg("quantile", "l_quantity", alias="med", q=0.5)
    merged = li.group(
        aggregate=[dup, Agg("quantile", "l_quantity", alias="p90", q=0.9), dup]
    ).df
    assert merged.columns == ["med", "p90", "med"]
    out = merged.collect()[0]
    p90 = li.group(aggregate=[Agg("quantile", "l_quantity", alias="only", q=0.9)])
    p90 = p90.df.collect()[0]["only"]
    med = li.group(aggregate=[Agg("quantile", "l_quantity", alias="only", q=0.5)])
    med = med.df.collect()[0]["only"]
    # positional: duplicate aliases make name lookup ambiguous
    assert (out[0], out[1], out[2]) == (med, p90, med)


def test_group_empty_by_single_row(tables):
    li = tables["lineitem"]
    out = li.group(aggregate=[Agg("count", alias="n"), Agg("max", "l_quantity", alias="mx")])
    rows = out.df.collect()
    assert len(rows) == 1
    assert rows[0]["n"] == li.count()


def test_agg_where_filtering(tables, oracle):
    li = tables["lineitem"]
    got = li.group(
        by=["l_linestatus"],
        aggregate=[Agg("count", "l_quantity", alias="big", where=F.col("l_quantity") > 40)],
    ).df.collect()
    want = dict(
        oracle.execute(
            "SELECT l_linestatus, count(*) FROM lineitem WHERE l_quantity > 40 GROUP BY 1"
        ).fetchall()
    )
    assert {r["l_linestatus"]: r["big"] for r in got} == want


def test_distinct_keep_variants(tables):
    li = tables["lineitem"]
    n_orders = li.group(by=["l_orderkey"]).count()
    assert li.distinct(on=["l_orderkey"]).count() == n_orders
    assert li.distinct(on=["l_orderkey"], keep="last").count() == n_orders
    only_single = li.distinct(on=["l_orderkey"], keep=None).count()
    assert only_single < n_orders  # multi-line orders dropped entirely


def test_set_operations(tables):
    nation = tables["nation"]
    west = nation.filter(n_regionkey={"eq": [0]})
    assert nation.union(west).count() == 30
    assert nation.union(west, distinct=True).count() == 25
    assert nation.intersect(west).count() == 5
    assert nation.difference(west).count() == 20


def test_join_how_variants(tables):
    cust = tables["customer"]
    orders = tables["orders"].select(F.col("o_custkey").alias("c_custkey")).df.distinct()
    semi = cust.join(orders, keys=["c_custkey"], how="semi").count()
    anti = cust.join(orders, keys=["c_custkey"], how="anti").count()
    assert semi + anti == cust.count()


def test_join_rename_collision(tables):
    nation = tables["nation"]
    out = nation.join(
        nation, keys=["n_regionkey"], rkeys=["n_regionkey"], rname="{name}_2"
    )
    assert "n_name_2" in out.column_names()


def test_unnest_with_offset(tables):
    emb = tables["embeddings"].slice(0, 10)
    out = emb.unnest("embedding", offset="pos")
    rows = out.df.groupBy("vec_id").agg(F.max("pos").alias("mx"), F.count("*").alias("n")).collect()
    for r in rows:
        assert r["mx"] == r["n"] - 1


def test_unpack_struct(tables):
    nation = tables["nation"]
    packed = nation.project(
        {"s": F.struct(F.col("n_name").alias("a"), F.col("n_regionkey").alias("b"))}
    ).select("n_nationkey", "s")
    out = packed.unpack("s")
    assert set(out.column_names()) == {"n_nationkey", "a", "b"}


def test_cast_try(tables):
    part = tables["part"]
    ok = part.project({"x": F.lit("12")}).cast({"x": "int"}, try_=True)
    bad = part.project({"x": F.lit("oops")}).cast({"x": "int"}, try_=True)
    assert ok.df.select("x").first()["x"] == 12
    assert bad.df.select("x").first()["x"] is None


def test_fill_drop_null(tables, spark):
    df = spark.createDataFrame([(1, None), (None, "b"), (3, "c")], "a int, b string")
    from graphique_spark import Dataset

    ds = Dataset(df)
    assert ds.drop_null().count() == 1
    assert ds.drop_null(how="all").count() == 3
    assert ds.fill_null(0, subset=["a"]).filter(a={"eq": [0]}).count() == 1


def test_write_partitioned_roundtrip(spark, tables, tmp_path):
    from graphique_spark.sources import write_partitioned

    dest = str(tmp_path / "nation_by_region")
    write_partitioned(
        tables["nation"].df, dest, keys=["n_regionkey"], sort_within=["n_name"]
    )
    back = spark.read.parquet(dest)
    assert back.count() == 25
    # hive layout: one directory per partition key value
    assert back.select("n_regionkey").distinct().count() == 5
    assert sorted(back.columns) == sorted(tables["nation"].df.columns)


def test_hive_partition_pruning(spark, tables, tmp_path):
    """A filter on the hive partition key must prune at the scan: the plan
    carries it as a PartitionFilter (no data read from other partitions)."""
    from graphique_spark.sources import write_partitioned

    dest = str(tmp_path / "events_by_type")
    write_partitioned(tables["events"].df, dest, keys=["event_type"])
    df = spark.read.parquet(dest).filter("event_type = 'click'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]
    # and the result is right
    expected = tables["events"].df.filter("event_type = 'click'").count()
    assert df.count() == expected


def test_partition_only_scan_reads_no_data_columns(spark, tables, tmp_path):
    """Selecting only the hive partition key must not read any data columns
    (metadata-equivalent group: the reference's fragment fast path,
    core.py:55-63, is built into Spark's scan)."""
    from graphique_spark.sources import write_partitioned

    dest = str(tmp_path / "events_parts")
    write_partitioned(tables["events"].df, dest, keys=["event_type"])
    distinct_types = spark.read.parquet(dest).select("event_type").distinct()
    plan = distinct_types._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<>" in plan  # zero data columns materialized
    assert distinct_types.count() == tables["events"].df.select("event_type").distinct().count()


def test_take_duplicates_order_and_schema(tables):
    # ADVICE r1: take() must preserve duplicates + requested order and not
    # leak the synthetic _rowid column (pyarrow take semantics)
    nation = tables["nation"].order(by=["n_nationkey"])
    taken = nation.take([5, 0, 5])
    rows = taken.df.collect()
    assert [r["n_nationkey"] for r in rows] == [5, 0, 5]
    assert "_rowid" not in taken.df.columns


def test_distinct_keep_last_descending_key(tables):
    # ADVICE r1: keep='last' with a '-' order_by key crashed (.desc() on SortOrder)
    li = tables["lineitem"]
    n_orders = li.group(by=["l_orderkey"]).count()
    last_desc = li.distinct(on=["l_orderkey"], keep="last", order_by=["-l_linenumber"])
    assert last_desc.count() == n_orders
    # keep='last' by -l_linenumber == keep='first' by l_linenumber
    first_asc = li.distinct(on=["l_orderkey"], keep="first", order_by=["l_linenumber"])
    a = {(r["l_orderkey"], r["l_linenumber"]) for r in last_desc.df.select("l_orderkey", "l_linenumber").collect()}
    b = {(r["l_orderkey"], r["l_linenumber"]) for r in first_asc.df.select("l_orderkey", "l_linenumber").collect()}
    assert a == b


def test_read_source_formats_roundtrip(spark, tables, tmp_path_factory):
    # read_source: any Spark DataSource format as a root, with startup
    # projection and explicit schema (no inference pass at scale)
    from graphique_spark import sources

    base = tmp_path_factory.mktemp("formats")
    nation = tables["nation"].df.select("n_nationkey", "n_name", "n_regionkey")
    expected = {(r["n_nationkey"], r["n_name"]) for r in nation.collect()}
    ddl = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    for fmt, options in (
        ("csv", {"header": "true"}),
        ("json", {}),
        ("orc", {}),
    ):
        dest = str(base / fmt)
        nation.write.format(fmt).options(**options).mode("overwrite").save(dest)
        ds = sources.read_source(spark, dest, format=fmt, schema=ddl, **options)
        assert ds.source_type == fmt.capitalize() + "Source"
        got = {(r["n_nationkey"], r["n_name"]) for r in ds.df.collect()}
        assert got == expected
    renamed = sources.read_source(
        spark,
        str(base / "csv"),
        format="csv",
        schema=ddl,
        columns={"key": "n_nationkey"},
        header="true",
    )
    assert renamed.df.columns == ["key"]
    assert renamed.count() == len(expected)


def test_partition_metadata_fast_paths(spark, tables, tmp_path_factory):
    # reference interface.py:233-234 / core.py:55-63: group-by-partition-keys
    # and dataset count answered from directory names + parquet footers
    from graphique_spark import sources

    dest = str(tmp_path_factory.mktemp("hive") / "nation")
    sources.write_partitioned(tables["nation"].df, dest, ["n_regionkey"])
    ds = sources.read_parquet(spark, dest)
    assert ds.partitioning == ("n_regionkey",)

    fast = ds.group(by=["n_regionkey"], counts="n")
    assert "Scan parquet" not in fast.explain("simple")  # LocalRelation only
    got = {(r["n_regionkey"], r["n"]) for r in fast.df.collect()}
    slow = tables["nation"].df.groupBy("n_regionkey").count()
    expected = {(r["n_regionkey"], r["count"]) for r in slow.collect()}
    assert got == expected
    assert dict(fast.df.dtypes)["n_regionkey"] == dict(ds.df.dtypes)["n_regionkey"]

    # metadata count == scan count; any transformation disables the path
    assert ds.count() == tables["nation"].count()
    filtered = ds.filter(F.col("n_regionkey") == 0)
    assert not hasattr(filtered, "path")
    assert "Scan parquet" in filtered.group(by=["n_regionkey"]).explain("simple")


def test_metadata_count_single_file_root(spark):
    from graphique_spark import sources
    from tests.conftest import SF_DIR

    ds = sources.read_parquet(spark, f"{SF_DIR}/nation.parquet")
    assert ds.count() == ds.df.count()


def test_order_partition_key_prunes_files(spark, tables, tmp_path_factory):
    # reference core.py:81-88: order(by=partition_keys, limit) bisects
    # fragment row counts and scans only the files covering `limit`
    from graphique_spark import sources

    dest = str(tmp_path_factory.mktemp("ordroot") / "events")
    sources.write_partitioned(tables["events"].df, dest, ["event_type"])
    ds = sources.read_parquet(spark, dest)
    total_files = len(ds.df.inputFiles())

    pruned = ds.order(by=["event_type"], limit=5)
    assert len(pruned.df.inputFiles()) < total_files
    expected = [
        r["event_type"]
        for r in tables["events"].df.orderBy("event_type").limit(5).collect()
    ]
    assert [r["event_type"] for r in pruned.df.collect()] == expected

    # descending + secondary non-partition key: still prunable
    pruned_desc = ds.order(by=["-event_type", "ts"], limit=3)
    assert len(pruned_desc.df.inputFiles()) < total_files
    expected_desc = [
        (r["event_type"], r["ts"])
        for r in tables["events"].df.orderBy(F.desc("event_type"), "ts").limit(3).collect()
    ]
    assert [
        (r["event_type"], r["ts"]) for r in pruned_desc.df.collect()
    ] == expected_desc

    # sort key not led by a partition key: no prune, still correct
    unpruned = ds.order(by=["ts"], limit=2)
    assert len(unpruned.df.inputFiles()) == total_files


def test_first_partition_key_prunes_files(spark, tables, tmp_path_factory):
    # reference core.py:90-99: first(by=partition_key, rank) keeps only the
    # fragments of qualifying key values
    from graphique_spark import sources

    dest = str(tmp_path_factory.mktemp("firstroot") / "nation")
    sources.write_partitioned(tables["nation"].df, dest, ["n_regionkey"])
    ds = sources.read_parquet(spark, dest)
    total_files = len(ds.df.inputFiles())

    first = ds.first(by=["n_regionkey"], rank=2, dense=True)
    assert len(first.df.inputFiles()) < total_files
    got = {r["n_regionkey"] for r in first.df.collect()}
    assert got == {0, 1}
    assert first.df.count() == tables["nation"].df.filter("n_regionkey <= 1").count()

    # sparse rank over a descending int partition key
    last = ds.first(by=["-n_regionkey"], rank=1)
    assert len(last.df.inputFiles()) < total_files
    assert {r["n_regionkey"] for r in last.df.collect()} == {4}


def test_read_jdbc_end_to_end_derby(spark, tmp_path):
    # Spark bundles Derby (embedded, pure-Java) for the hive metastore —
    # use it to exercise read_jdbc for real: schema resolution, rows, and
    # predicate pushdown into the JDBCRelation scan
    from graphique_spark import sources

    url = f"jdbc:derby:{tmp_path}/jdbcdb"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    stmt = conn.createStatement()
    stmt.executeUpdate("CREATE TABLE regions (r_id INT, r_name VARCHAR(32))")
    for i, name in enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE"]):
        stmt.executeUpdate(f"INSERT INTO regions VALUES ({i}, '{name}')")
    stmt.close()
    conn.close()

    ds = sources.read_jdbc(
        spark, url, "regions", driver="org.apache.derby.jdbc.EmbeddedDriver"
    )
    assert ds.source_type == "JDBCTable"
    rows = {(r["R_ID"], r["R_NAME"]) for r in ds.df.collect()}
    assert rows == {(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE")}

    filtered = ds.filter(F.col("R_ID") >= 2)
    plan = filtered.explain("formatted")
    assert "PushedFilters" in plan and "R_ID" in plan  # pushed to the DB
    assert filtered.df.count() == 2


def test_compact_parquet_flat_and_partitioned(spark, tables, tmp_path):
    from graphique_spark.sources import _list_files, compact_parquet

    orders = tables["orders"].df
    # fragment: 16 files flat, 16 per partition dir
    flat_src = str(tmp_path / "flat_src")
    orders.repartition(16).write.parquet(flat_src)
    flat_dest = str(tmp_path / "flat_dest")
    stats = compact_parquet(spark, flat_src, flat_dest, target_file_bytes=1 << 30)
    assert stats["files_before"] == 16 and stats["files_after"] == 1
    assert spark.read.parquet(flat_dest).count() == orders.count()

    part_src = str(tmp_path / "part_src")
    orders.repartition(16).write.partitionBy("o_orderstatus").parquet(part_src)
    part_dest = str(tmp_path / "part_dest")
    stats = compact_parquet(
        spark, part_src, part_dest, target_file_bytes=1 << 30,
        partition_keys=["o_orderstatus"],
    )
    n_status = orders.select("o_orderstatus").distinct().count()
    assert stats["files_after"] == n_status  # one file per partition dir
    back = spark.read.parquet(part_dest)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)
    # partition dirs preserved
    assert all(f"o_orderstatus=" in p for p, _ in _list_files(spark, part_dest))


def test_compact_parquet_splits_oversized_partitions(spark, tables, tmp_path):
    from graphique_spark.sources import compact_parquet

    orders = tables["orders"].df
    src = str(tmp_path / "src")
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(src)
    dest = str(tmp_path / "dest")
    # tiny target: every partition must split into several files
    stats = compact_parquet(
        spark, src, dest, target_file_bytes=2 << 10,
        partition_keys=["o_orderstatus"],
    )
    n_status = orders.select("o_orderstatus").distinct().count()
    assert stats["files_after"] > n_status
    assert spark.read.parquet(dest).count() == orders.count()


def test_compact_parquet_splits_escaped_and_null_partitions(spark, tmp_path):
    # partition dirs are Hive-escaped (':' -> %3A) and nulls become
    # __HIVE_DEFAULT_PARTITION__; the split sizing must match them against
    # raw column values or special-char/null partitions silently never split
    import glob as _glob

    from graphique_spark.sources import compact_parquet

    df = spark.range(4000).select(
        F.when(F.col("id") % 3 == 0, F.lit("a:b"))
        .when(F.col("id") % 3 == 1, F.lit(None))
        .otherwise(F.lit("ok"))
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    src = str(tmp_path / "src")
    df.repartition(4).write.partitionBy("k").parquet(src)
    dest = str(tmp_path / "dest")
    compact_parquet(
        spark, src, dest, target_file_bytes=8 << 10, partition_keys=["k"]
    )
    for d in ["k=a%3Ab", "k=__HIVE_DEFAULT_PARTITION__", "k=ok"]:
        n = len(_glob.glob(str(tmp_path / "dest" / d / "*.parquet")))
        assert n > 1, f"{d}: expected a multi-file split, got {n}"
    # content survives the round trip (null partition included)
    assert spark.read.parquet(dest).count() == 4000
    assert spark.read.parquet(dest).where(F.col("k").isNull()).count() > 1000


def test_compact_parquet_splits_under_kv_named_ancestor_dir(spark, tmp_path):
    # an ancestor directory of src that itself looks like a partition
    # (ds=2024) must not inject phantom pairs into the split-map keys —
    # that mismatch made every lookup miss and no partition ever split
    import glob as _glob

    from graphique_spark.sources import compact_parquet

    root = tmp_path / "lake" / "ds=2024-08-14" / "table"
    df = spark.range(4000).select(
        (F.col("id") % 2).cast("int").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    df.repartition(4).write.partitionBy("k").parquet(str(root))
    dest = str(tmp_path / "dest")
    compact_parquet(
        spark, str(root), dest, target_file_bytes=8 << 10, partition_keys=["k"]
    )
    for d in ["k=0", "k=1"]:
        n = len(_glob.glob(str(tmp_path / "dest" / d / "*.parquet")))
        assert n > 1, f"{d}: expected a multi-file split, got {n}"
    assert spark.read.parquet(dest).count() == 4000


def test_compact_parquet_reports_bytes_not_partition_count(spark, tmp_path):
    from graphique_spark.sources import compact_parquet

    df = spark.range(4000).select(
        (F.col("id") % 2).cast("int").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    src = str(tmp_path / "src")
    df.repartition(4).write.partitionBy("k").parquet(src)
    stats = compact_parquet(
        spark, src, str(tmp_path / "dest"), target_file_bytes=8 << 10,
        partition_keys=["k"],
    )
    # regression: 'bytes' was shadowed by the output partition count
    assert stats["bytes"] > 100_000


def test_join_rkeys_self_join_with_overlap(tables):
    # right-key columns that also exist on the left are renamed before the
    # condition was built — rdf['id'] raised instead of joining
    nation = tables["nation"]
    out = nation.join(nation, keys=["n_regionkey"], rkeys=["n_nationkey"]).df
    # every nation matches the one nation whose id equals its region key
    assert out.count() == 25
    assert "n_name_r" in out.columns


def test_agg_where_filters_ranking_and_order(spark):
    from graphique_spark import Agg

    df = spark.createDataFrame(
        [("a", 10, False), ("b", 5, True), ("c", 7, True), (None, 6, True)],
        "v string, score long, ok boolean",
    )
    row = df.agg(
        Agg("argmax", "v", key="score", where=F.col("ok"), alias="am").to_column(),
        Agg("first", "v", order_by="-score", where=F.col("ok"), alias="f").to_column(),
        Agg("collect", "v", order_by="-score", alias="c").to_column(),
        Agg("concat", "v", order_by="score", where=F.col("ok"), alias="cc").to_column(),
    ).collect()[0]
    # the excluded (a, 10) row must not win the ranking or pollute order
    assert row["am"] == "c"
    assert row["f"] == "c"
    assert row["c"] == ["a", "c", "b"]  # null v dropped like collect_list
    assert row["cc"] == "b,c"


def test_take_empty_indices(tables):
    out = tables["nation"].take([])
    assert out.df.count() == 0
    assert out.df.columns == tables["nation"].df.columns


def test_runs_come_back_in_adjacency_order(spark):
    from graphique_spark import Dataset

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "x")], "t long, state string"
    ).repartition(4)
    runs = Dataset(df).runs(by=["state"], order_by=["t"], counts="n").df.collect()
    assert [(r["state"], r["n"]) for r in runs] == [("x", 2), ("y", 1), ("x", 1)]


def test_table_checksum_unambiguous(spark):
    from graphique_spark import sources

    # length-prefixed serialization: boundary-shifted rows hash apart
    a = spark.createDataFrame([("a\x1fb", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "b\x1fc")], "x string, y string")
    ca = sources.table_checksum(a, []).first()["checksum"]
    cb = sources.table_checksum(b, []).first()["checksum"]
    assert ca != cb
    # and a literal \x00 value does not collide with NULL
    c = spark.createDataFrame([("\x00",)], "x string")
    d = spark.createDataFrame([(None,)], "x string")
    assert (
        sources.table_checksum(c, []).first()["checksum"]
        != sources.table_checksum(d, []).first()["checksum"]
    )


def test_compact_parquet_partition_key_order_insensitive(spark, tmp_path):
    from graphique_spark import sources

    src = str(tmp_path / "src")
    df = spark.range(4000).selectExpr(
        "CAST(id % 2 AS STRING) AS a", "CAST(id % 3 AS STRING) AS b", "id AS v"
    )
    # many small files per (a, b) partition
    df.repartition(8).write.partitionBy("a", "b").mode("overwrite").parquet(src)
    dest = str(tmp_path / "dest")
    # keys in REVERSED order vs the physical nesting: splitting must still
    # see per-partition sizes (the split_map key used directory order and
    # never matched, silently disabling splits)
    stats = sources.compact_parquet(
        spark, src, dest, target_file_bytes=2048, partition_keys=["b", "a"]
    )
    # every partition sized from its own bytes: with ~8 small files per
    # partition compacted against a 2 KB target, at least one partition
    # must SPLIT (>1 file), which only happens when the split_map key
    # matches — the regression returned exactly one file per partition
    assert stats["files_after"] > 6
    got = spark.read.parquet(dest).count()
    assert got == 4000


