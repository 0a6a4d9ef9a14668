"""Composite operators: row index, runs, as-of join, top-k — validated
against DuckDB SQL or hand-computed expectations."""

import re

import pytest
from pyspark.sql import functions as F

from graphique_spark import Agg
from graphique_spark.operators import asof_join, with_row_index, with_run_ids


def test_with_row_index_dense(tables):
    li = tables["lineitem"].df
    indexed = with_row_index(li)
    n = li.count()
    stats = indexed.agg(
        F.min("_rowid").alias("lo"), F.max("_rowid").alias("hi"),
        F.count_distinct("_rowid").alias("d"),
    ).first()
    assert stats["lo"] == 0
    assert stats["hi"] == n - 1
    assert stats["d"] == n


def test_run_ids_match_oracle(tables, oracle):
    orders = tables["orders"].df
    runs = with_run_ids(orders, ["o_orderstatus"], ["o_custkey", "o_orderdate", "o_orderkey"])
    got = runs.agg(F.count_distinct("_run")).first()[0]
    # NULL lag on the first row IS DISTINCT FROM its value, so DuckDB's
    # change count equals the run count directly.
    want = oracle.execute(
        """
        SELECT count(*) FROM (
          SELECT CASE WHEN o_orderstatus IS DISTINCT FROM
                 lag(o_orderstatus) OVER (ORDER BY o_custkey, o_orderdate, o_orderkey)
                 THEN 1 ELSE 0 END AS chg
          FROM orders
        ) WHERE chg = 1
        """
    ).fetchone()[0]
    assert got == want


def test_run_ids_contiguous(spark):
    from graphique_spark import Dataset

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "a"), (5, "a"), (6, "c")], "i int, v string"
    )
    runs = Dataset(df).runs(by=["v"], order_by=["i"], counts="n")
    got = {(r["v"], r["n"]) for r in runs.df.collect()}
    assert got == {("a", 2), ("b", 1), ("a", 2), ("c", 1)}
    assert runs.count() == 4


def test_asof_backward_with_tolerance(spark):
    trades = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 101.0), ("B", 15, 50.0)], "sym string, t long, px double"
    )
    quotes = spark.createDataFrame(
        [("A", 8, 99.5), ("A", 18, 100.5), ("B", 1, 49.0)], "sym string, t long, bid double"
    )
    out = asof_join(trades, quotes, on="t", by=["sym"]).collect()
    got = {(r["sym"], r["t"]): r["bid"] for r in out}
    assert got == {("A", 10): 99.5, ("A", 20): 100.5, ("B", 15): 49.0}

    tol = asof_join(trades, quotes, on="t", by=["sym"], tolerance=F.lit(5)).collect()
    got_tol = {(r["sym"], r["t"]): r["bid"] for r in tol}
    assert got_tol == {("A", 10): 99.5, ("A", 20): 100.5, ("B", 15): None}


def test_asof_forward_and_range_strategy(spark):
    left = spark.createDataFrame([(1, 10)], "k int, t long")
    right = spark.createDataFrame([(1, 12, "x"), (1, 20, "y"), (1, 5, "z")], "k int, t long, v string")
    fwd = asof_join(left, right, on="t", by=["k"], direction="forward").collect()
    assert fwd[0]["v"] == "x"
    bwd = asof_join(left, right, on="t", by=["k"]).collect()
    assert bwd[0]["v"] == "z"


def test_asof_matches_duckdb(tables, oracle):
    events = tables["events"]
    clicks = events.filter(event_type={"eq": ["click"]}).select("event_id", "user_id", "ts")
    purchases = events.filter(event_type={"eq": ["purchase"]}).df.groupBy("user_id", "ts").agg(
        F.max("value").alias("value")
    )
    got = asof_join(clicks.df, purchases, on="ts", by=["user_id"])
    got_map = {r["event_id"]: r["value"] for r in got.collect()}
    want = dict(
        oracle.execute(
            """
            SELECT e.event_id, p.value
            FROM (SELECT * FROM events WHERE event_type='click') e
            ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
                            WHERE event_type='purchase' GROUP BY 1,2) p
            ON e.user_id = p.user_id AND e.ts >= p.ts
            """
        ).fetchall()
    )
    assert got_map == want


def test_order_top_k_per_group(tables):
    orders = tables["orders"]
    out = orders.order(by=["-o_totalprice", "o_orderkey"], limit=3, over=["o_orderpriority"])
    counts = out.df.groupBy("o_orderpriority").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_first_rank_keeps_ties(spark):
    from graphique_spark import Dataset

    df = spark.createDataFrame([("g", 1), ("g", 1), ("g", 2), ("h", 5)], "k string, v int")
    out = Dataset(df).first(by=["v"], rank=1, over=["k"])
    assert out.count() == 3  # both tied v=1 rows plus h's single row


def test_rollup_and_cube(tables):
    from graphique_spark.inputs import Agg

    nation = tables["nation"]
    rolled = nation.rollup(by=["n_regionkey"], counts="n").df.collect()
    assert len(rolled) == 6  # 5 regions + grand total
    assert {r["n"] for r in rolled if r["n_regionkey"] is None} == {25}
    cubed = nation.cube(
        by=["n_regionkey"], aggregate=[Agg("nunique", "n_name", alias="u")]
    ).df.collect()
    assert len(cubed) == 6


def test_two_phase_agg_matches_plain(tables):
    from graphique_spark.operators.skew import two_phase_agg

    li = tables["lineitem"].df
    plain = {
        r["l_returnflag"]: (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    two = {
        r["l_returnflag"]: (r["l_quantity"], r["n"])
        for r in two_phase_agg(li, by=["l_returnflag"], sums=["l_quantity"], counts="n").collect()
    }
    assert set(two) == set(plain)
    for k in plain:
        assert two[k][0] == pytest.approx(plain[k][0])
        assert two[k][1] == plain[k][1]


def test_order_without_limit_keeps_all_rows(spark):
    # ADVICE r1: order(over=...) with limit=None must not silently keep 1/group
    from graphique_spark import Dataset

    df = spark.createDataFrame([("g", 3), ("g", 1), ("g", 2)], "k string, v int")
    ds = Dataset(df)
    assert ds.order(by=["v"], over=["k"]).count() == 3
    assert [r["v"] for r in ds.order(by=["v"], over=["k"]).df.collect()] == [1, 2, 3]
    assert ds.order(by=["v"], limit=0, over=["k"]).count() == 0
    assert ds.order(by=["v"], limit=2, over=["k"]).count() == 2


def test_global_rank_filter_avoids_unpartitioned_window(tables):
    # scale guard: global first() must semi-join first-k distinct keys, never
    # build a whole-table Window.partitionBy()
    li = tables["lineitem"]
    dense = li.first(by=["l_quantity"], rank=2, dense=True)
    plan = dense.df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "LeftSemi" in plan
    vals = {r["l_quantity"] for r in dense.df.select("l_quantity").distinct().collect()}
    assert len(vals) == 2 and vals == set(sorted(vals)[:2])

    ranked = li.first(by=["-l_quantity"], rank=3)
    top = li.df.agg(F.max("l_quantity")).collect()[0][0]
    got = ranked.df.select("l_quantity").distinct().collect()
    assert all(r["l_quantity"] <= top for r in got)
    # rank<=3 with ties never spans more than 3 distinct values
    assert 1 <= len(got) <= 3


def test_global_rank_filter_matches_window_semantics(spark):
    from graphique_spark.operators.topk import rank_filter

    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 2), ("e", 3), ("f", 4)], "id string, v int"
    )
    # rank(): v=1 has rank 1 (2 rows), v=2 has rank 3 -> rank<=3 keeps 4 rows
    assert rank_filter(df, ["v"], rank=3).count() == 4
    # rank<=2 keeps only the two v=1 rows (v=2 would be rank 3)
    assert {r["v"] for r in rank_filter(df, ["v"], rank=2).collect()} == {1}
    # dense_rank<=2 keeps v in {1,2}
    assert {r["v"] for r in rank_filter(df, ["v"], rank=2, dense=True).collect()} == {1, 2}


def test_ordered_collect_descending_string_keys(spark):
    # ADVICE r1: descending order_by on string keys crashed (arithmetic negation)
    from graphique_spark import Dataset

    df = spark.createDataFrame(
        [("g", "b", 2), ("g", "a", 1), ("g", "c", 3)], "k string, s string, v int"
    )
    out = (
        Dataset(df)
        .group(by=["k"], aggregate=[Agg("concat", "s", alias="cs", sep=",", order_by="-s")])
        .df.collect()
    )
    assert out[0]["cs"] == "c,b,a"
    first = (
        Dataset(df)
        .group(by=["k"], aggregate=[Agg("first", "v", alias="f", order_by="-s")])
        .df.collect()
    )
    assert first[0]["f"] == 3


def test_ordered_collect_mixed_direction_keys(spark):
    from graphique_spark import Dataset

    df = spark.createDataFrame(
        [("g", "a", 2, "x"), ("g", "a", 1, "y"), ("g", "b", 9, "z")],
        "k string, s string, v int, p string",
    )
    out = (
        Dataset(df)
        .group(by=["k"], aggregate=[Agg("concat", "p", alias="cp", sep=",", order_by=["s", "-v"])])
        .df.collect()
    )
    assert out[0]["cp"] == "x,y,z"  # s asc, then v desc within s


def test_asof_range_keeps_duplicate_left_rows(spark):
    # identical duplicate left rows keep one output row each
    left = spark.createDataFrame([(1, 10), (1, 10)], "k int, t long")
    right = spark.createDataFrame([(1, 5, "z")], "k int, t long, v string")
    uni = asof_join(left, right, on="t", by=["k"])
    assert uni.count() == 2


def _single_task_windows(plan: str) -> list[str]:
    """``Window`` nodes of a plan string whose nearest ``Exchange`` below
    is ``SinglePartition``: windows computed in one task."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-|"))

    lines = plan.splitlines()
    found = []
    for i, line in enumerate(lines):
        if "Window [" not in line:
            continue
        for below in lines[i + 1 :]:
            if depth(below) <= depth(line):
                break
            if "Exchange " in below:
                if "SinglePartition" in below:
                    found.append(line.lstrip(" :+-|"))
                break
    return found


def test_asof_global_no_keys(spark):
    # keyless as-of: two-phase range-partition path, no unpartitioned window
    left = spark.createDataFrame([(10,), (20,), (3,)], "t long")
    right = spark.createDataFrame([(5, "a"), (15, "b")], "t long, v string")
    out = asof_join(left, right, on="t")
    got = {r["t"]: r["v"] for r in out.collect()}
    assert got == {3: None, 10: "a", 20: "b"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _single_task_windows(plan) == [], plan
    fwd = asof_join(left, right, on="t", direction="forward")
    got_fwd = {r["t"]: r["v"] for r in fwd.collect()}
    assert got_fwd == {3: "a", 10: "b", 20: None}


def test_row_index_nondeterministic_upstream(tables):
    # sample() re-executes differently per job; the materialize() cut must
    # pin partition contents so the count job and the output job agree,
    # yielding a dense 0..n-1 index
    from graphique_spark.operators.sequence import with_row_index

    sampled = tables["lineitem"].df.sample(0.5, seed=None)
    indexed = with_row_index(sampled, "_rowid")
    ids = [r["_rowid"] for r in indexed.select("_rowid").collect()]
    assert sorted(ids) == list(range(len(ids)))


def test_range_join_matches_naive_and_avoids_nlj(spark, tables):
    from graphique_spark.operators.rangejoin import range_join

    points = tables["lineitem"].df.select("l_orderkey", "l_extendedprice").limit(2000)
    bands = spark.createDataFrame(
        [(i, i * 5000.0, (i + 1) * 5000.0 - 0.01) for i in range(25)],
        "band int, lo double, hi double",
    )
    got = range_join(points, bands, "l_extendedprice", "lo", "hi", bucket_width=5000.0)
    naive = points.crossJoin(bands).filter(
        (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") <= F.col("hi"))
    )
    assert got.count() == naive.count()
    got_set = {(r["l_orderkey"], r["band"]) for r in got.collect()}
    naive_set = {(r["l_orderkey"], r["band"]) for r in naive.collect()}
    assert got_set == naive_set

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rejoined = range_join(points, bands, "l_extendedprice", "lo", "hi", 5000.0)
        plan = rejoined._sc._jvm.PythonSQLUtils.explainString(
            rejoined._jdf.queryExecution(), "formatted"
        )
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert "SortMergeJoin" in plan  # bucket equi-join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_range_join_outer_semi_anti_match_naive(spark):
    from graphique_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(60)], "pid int, p double"
    )
    bands = spark.createDataFrame(
        [(0, 10.0, 30.0), (1, 25.0, 40.0), (2, 90.0, 95.0), (3, 50.0, 20.0)],
        "band int, lo double, hi double",  # band 3 is inverted: matches nothing
    )
    naive_cond = (F.col("p") >= F.col("lo")) & (F.col("p") <= F.col("hi"))
    naive_inner = points.crossJoin(bands).filter(naive_cond)
    matched_pids = {r["pid"] for r in naive_inner.select("pid").distinct().collect()}
    all_pids = {r["pid"] for r in points.collect()}

    left = range_join(points, bands, "p", "lo", "hi", 10.0, how="left").collect()
    # matched rows identical to inner; unmatched points kept with null band
    assert {(r["pid"], r["band"]) for r in left if r["band"] is not None} == {
        (r["pid"], r["band"]) for r in naive_inner.collect()
    }
    assert {r["pid"] for r in left if r["band"] is None} == all_pids - matched_pids

    semi = range_join(points, bands, "p", "lo", "hi", 10.0, how="semi")
    assert set(semi.columns) == {"pid", "p"}
    assert {r["pid"] for r in semi.collect()} == matched_pids
    anti = range_join(points, bands, "p", "lo", "hi", 10.0, how="anti")
    assert {r["pid"] for r in anti.collect()} == all_pids - matched_pids

    with pytest.raises(ValueError, match="right/full"):
        range_join(points, bands, "p", "lo", "hi", 10.0, how="full")


def test_profile_single_pass_metrics(spark):
    from graphique_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, 2.5, "a"), (2, None, "b"), (3, 7.5, None), (3, 1.0, "a")],
        "k long, v double, s string",
    )
    rows = {r["column"]: r for r in profile(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 3
    assert rows["v"]["n_nulls"] == 1
    assert rows["v"]["min_num_scaled"] == 1_000_000  # 1.0 scaled
    assert rows["v"]["max_num_scaled"] == 7_500_000
    assert rows["v"]["min_str"] is None
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["min_str"] == "a"
    assert rows["s"]["min_num_scaled"] is None
    # approx mode still lands near truth on tiny data
    approx = {r["column"]: r for r in profile(df, exact=False).collect()}
    assert abs(approx["k"]["n_distinct"] - 3) <= 1


def test_snapshot_diff_classifies_all_change_kinds(spark):
    from graphique_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, v string, w long",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 changed (value), 3 removed, 4 changed (null->real), 5 added
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (5, "e", 50)],
        "k long, v string, w long",
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, keys=["k"]).collect()}
    assert got == {2: "changed", 3: "removed", 4: "changed", 5: "added"}
    full = snapshot_diff(old, new, keys=["k"], include_unchanged=True)
    assert {r["k"]: r["change"] for r in full.collect()}[1] == "unchanged"


def test_snapshot_diff_duplicate_keys_and_column_subset(spark):
    from graphique_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1), (1, "a2", 1), (2, "b", 9)], "k long, v string, extra long"
    )
    # same multiset of v for k=1 -> unchanged when comparing v only;
    # extra differs but is excluded by compare=
    new = spark.createDataFrame(
        [(1, "a2", 7), (1, "a", 7), (2, "b2", 9)], "k long, v string, extra long"
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"], compare=["v"]).collect()}
    assert got == {2: "changed"}
    # dup-key multiset actually differs -> changed
    new2 = spark.createDataFrame([(1, "a", 1), (1, "a", 1)], "k long, v string, extra long")
    got2 = {r["k"]: r["change"] for r in snapshot_diff(old, new2, ["k"], compare=["v"]).collect()}
    assert got2[1] == "changed"


def test_snapshot_diff_shuffles_fingerprints_not_rows(spark):
    """The full-outer exchange must carry (key, hash) rows, not document
    bodies: the compared wide column is projected away before the join."""
    from graphique_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, "x" * 10)], "k long, body string")
    new = spark.createDataFrame([(1, "y" * 10)], "k long, body string")
    plan = snapshot_diff(old, new, ["k"])._jdf.queryExecution().optimizedPlan().toString()
    # the rows crossing the shuffle are the Aggregate/Join outputs: keys and
    # 8-byte hashes only — the wide column must appear solely inside the
    # map-side fingerprint Project underneath
    for line in plan.splitlines():
        stripped = line.strip(" :+-")
        if stripped.startswith(("Join", "Aggregate [")):
            assert "body" not in stripped


def test_incremental_state_merge_matches_direct_aggregate(spark, tables):
    from graphique_spark.operators.incremental import (
        aggregate_state, finalize_state, merge_states,
    )

    orders = tables["orders"].df
    aggs = {
        "n": ("count", "o_orderkey"),
        "spend": ("sum", "o_totalprice"),
        "mean": ("avg", "o_totalprice"),
        "lo": ("min", "o_totalprice"),
        "hi": ("max", "o_totalprice"),
        "spread": ("var", "o_totalprice"),
    }
    keys = ["o_orderpriority"]
    # three deltas: % 3 partitions of the table, merged hierarchically
    parts = [orders.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    states = [aggregate_state(p, keys, aggs) for p in parts]
    merged01 = merge_states([states[0], states[1]], keys)
    merged = merge_states([merged01, states[2]], keys)
    got = {
        r["o_orderpriority"]: r
        for r in finalize_state(merged, keys, aggs).collect()
    }
    want = {
        r["o_orderpriority"]: r
        for r in orders.groupBy(*keys).agg(
            F.count("o_orderkey").alias("n"),
            F.sum("o_totalprice").alias("spend"),
            F.avg("o_totalprice").alias("mean"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.var_pop("o_totalprice").alias("spread"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k]["n"] == want[k]["n"]
        for col in ("spend", "mean", "lo", "hi", "spread"):
            assert got[k][col] == pytest.approx(want[k][col], rel=1e-9)


def test_incremental_state_new_keys_in_delta(spark):
    from graphique_spark.operators.incremental import (
        aggregate_state, finalize_state, merge_states,
    )

    aggs = {"n": ("count", "v"), "hi": ("max", "v")}
    old = spark.createDataFrame([("a", 1), ("a", 5)], "k string, v long")
    delta = spark.createDataFrame([("b", 7)], "k string, v long")
    merged = merge_states(
        [aggregate_state(old, ["k"], aggs), aggregate_state(delta, ["k"], aggs)],
        ["k"],
    )
    got = {r["k"]: (r["n"], r["hi"]) for r in finalize_state(merged, ["k"], aggs).collect()}
    assert got == {"a": (2, 5), "b": (1, 7)}


def test_apply_cdc_latest_op_wins_and_ties_break_deterministically(spark):
    from graphique_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    log = spark.createDataFrame(
        [
            (1, "A", 1, "update"),
            (1, "AA", 2, "update"),   # latest for k=1
            (2, None, 1, "delete"),
            (4, "d", 1, "insert"),
            (4, None, 2, "delete"),
            (4, "d2", 3, "insert"),   # resurrection after delete
            (5, "x", 1, "update"),    # same seq: 'update' > 'insert' lexically
            (5, "y", 1, "insert"),
        ],
        "k long, v string, seq long, op string",
    )
    got = {r["k"]: r["v"] for r in apply_cdc(base, log, ["k"]).collect()}
    assert got == {1: "AA", 3: "c", 4: "d2", 5: "x"}


def test_apply_cdc_rejects_missing_columns(spark):
    from graphique_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    bad = spark.createDataFrame([(1, 1, "insert")], "k long, seq long, op string")
    with pytest.raises(ValueError, match="missing columns"):
        apply_cdc(base, bad, ["k"])


def test_apply_cdc_log_collapses_without_window(spark):
    from graphique_spark.operators.cdc import _collapse_log, apply_cdc

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    log = spark.createDataFrame([(1, "b", 1, "update")], "k long, v string, seq long, op string")
    # scale guards on the collapse itself (apply_cdc materializes it for
    # its two consumers, so the fold's plan is checked pre-checkpoint):
    # latest-per-key must come from a map-side-combinable aggregate
    # (partial_max below the exchange), never a Window, and no sort may
    # be global (SMJ/SortAggregate sorts are per-partition:
    # 'Sort [...], false' — the bool is the isGlobal flag)
    collapse = (
        _collapse_log(log, ["k"], "seq", "op", ["v"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in collapse
    assert "partial_max" in collapse
    assert ", true, 0" not in collapse  # no global sort
    assert "Exchange SinglePartition" not in collapse
    plan = apply_cdc(base, log, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert ", true, 0" not in plan
    assert "Exchange SinglePartition" not in plan


def test_pagerank_matches_reference_power_iteration(spark):
    from graphique_spark.operators.graph import pagerank

    edges = [(1, 2), (1, 3), (2, 3), (4, 3)]  # 3 is a dangling sink
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}

    nodes = [1, 2, 3, 4]
    out = {1: [2, 3], 2: [3], 4: [3]}
    rank = {v: 1 / 4 for v in nodes}
    d, n = 0.85, 4
    for _ in range(5):
        dangling = sum(rank[v] for v in nodes if v not in out)
        inflow = {v: 0.0 for v in nodes}
        for u, targets in out.items():
            for v in targets:
                inflow[v] += rank[u] / len(targets)
        rank = {v: (1 - d) / n + d * (inflow[v] + dangling / n) for v in nodes}

    assert set(got) == set(nodes)
    for v in nodes:
        assert got[v] == pytest.approx(rank[v], rel=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)
    assert got[3] == max(got.values())  # the sink everyone links to wins


def test_scd2_join_picks_version_in_effect(spark):
    from graphique_spark.operators.asof import scd2_join

    dims = spark.createDataFrame(
        [
            (1, "2020-01-01", "2021-01-01", "v1"),
            (1, "2021-01-01", None, "v2"),
            (2, "2020-06-01", "2020-07-01", "only"),  # coverage gap after July
        ],
        "k long, valid_from string, valid_to string, tag string",
    ).select(
        "k",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "tag",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, "2020-05-05"),  # inside v1
            (11, 1, "2021-01-01"),  # boundary -> v2 takes effect
            (12, 1, "2022-03-03"),  # open-ended v2
            (13, 2, "2020-06-15"),  # inside the only version
            (14, 2, "2020-08-01"),  # after valid_to: gap -> no version
            (15, 2, "2019-01-01"),  # before any version
        ],
        "fid long, k long, ts string",
    ).select("fid", "k", F.col("ts").cast("timestamp").alias("ts"))
    out = {
        r["fid"]: r["tag"]
        for r in scd2_join(facts, dims, key="k", fact_ts="ts", valid_to="valid_to").collect()
    }
    assert out == {10: "v1", 11: "v2", 12: "v2", 13: "only", 14: None, 15: None}


def test_skew_report_flags_hot_key(spark):
    from graphique_spark.operators.skew import skew_report

    rows = [(i, "hot" if i % 10 else f"k{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, k string")
    rep = skew_report(df, ["k"], top=3).collect()
    assert rep[0]["k"] == "hot"
    assert rep[0]["share"] == pytest.approx(0.9)
    assert rep[0]["skew_ratio"] == pytest.approx(900 / (1000 / 101))  # ~91x mean


def test_validate_rules_catch_planted_violations(spark):
    from graphique_spark.operators.quality import Rule, validate

    df = spark.createDataFrame(
        [(1, 5.0, "A"), (2, None, "A"), (3, 50.0, "X"), (3, 7.0, "A")],
        "id long, v double, flag string",
    )
    ref = spark.createDataFrame([(1,), (2,)], "id long")
    out = {
        r["rule"]: r
        for r in validate(
            df,
            [
                Rule("v_not_null", "not_null", column="v"),
                Rule("v_range", "in_range", column="v", lo=0.0, hi=10.0),
                Rule("flag_dom", "isin", column="flag", values=["A", "B"]),
                Rule("id_unique", "unique", columns=["id"]),
                Rule("id_fk", "foreign_key", column="id", ref=ref, ref_column="id"),
                Rule("pred", "predicate", expr=F.col("id") < 10),
            ],
        ).collect()
    }
    assert out["v_not_null"]["violations"] == 1
    assert out["v_range"]["violations"] == 2  # null + 50.0
    assert out["flag_dom"]["violations"] == 1
    assert out["id_unique"]["violations"] == 1  # id=3 twice -> 1 surplus row
    assert out["id_fk"]["violations"] == 2  # two rows with id=3
    assert out["pred"]["violations"] == 0 and out["pred"]["passed"]
    assert all(r["checked"] == 4 for r in out.values())


def test_empty_input_edge_cases(spark):
    # empty inputs return empty, fully-typed frames instead of crashing
    # (ZeroDivisionError / float(None) / IndexError)
    from graphique_spark.operators.graph import pagerank
    from graphique_spark.operators.quality import validate
    from graphique_spark.operators.skew import skew_report

    no_edges = spark.createDataFrame([], "src long, dst long")
    pr = pagerank(no_edges)
    assert pr.count() == 0
    assert [f.name for f in pr.schema.fields] == ["node", "rank"]

    no_rows = spark.createDataFrame([], "id long, k string")
    rep = skew_report(no_rows, ["k"])
    assert rep.count() == 0
    assert [f.name for f in rep.schema.fields] == ["k", "n", "share", "skew_ratio"]

    empty_rules = validate(spark.createDataFrame([(1,)], "id long"), [])
    assert empty_rules.count() == 0
    assert [f.name for f in empty_rules.schema.fields] == [
        "rule", "kind", "violations", "checked", "passed",
    ]


def test_blocked_fuzzy_pairs_finds_typos_within_block(spark):
    from graphique_spark.operators.entity import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "johnson"),
            (2, "jonson"),    # 1 deletion
            (3, "johnsen"),   # 1 substitution
            (4, "smith"),     # different block entirely
            (5, "johXXXXson"),  # same block, too far (distance 4 > 2)
        ],
        "rid long, name string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in blocked_fuzzy_pairs(
            df, key="name", block=F.substring("name", 1, 2), id_col="rid"
        ).collect()
    }
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 2}


def test_approx_group_agg_brackets_truth(tables):
    # the statistical contract: HT estimates from the 10% hash sample
    # land within their own z=1.96 intervals of the TRUE per-group totals
    # (deterministic sample -> deterministic estimates; the margin is not
    # a flaky bound, it is checked once against fixed data)
    from graphique_spark.operators.approx import approx_group_agg

    li = tables["lineitem"].df
    key = F.concat_ws(
        "#", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    est = {
        r["l_returnflag"]: r
        for r in approx_group_agg(
            li, ["l_returnflag"], key, sums=["l_quantity"], fraction=0.1
        ).collect()
    }
    truth = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    }
    assert set(est) == set(truth)
    for flag, t in truth.items():
        e = est[flag]
        assert abs(e["est_rows"] - t["n"]) <= e["ci_rows"], flag
        assert abs(e["est_l_quantity"] - float(t["q"])) <= e["ci_l_quantity"], flag
        # error bars are meaningful: well under 20% of the estimate
        assert e["ci_rows"] < 0.2 * e["est_rows"]


def test_snapshot_diff_null_keys_match(spark):
    from graphique_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(None, "same"), (1, "old")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(None, "same"), (1, "new")], "k int, v string"
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
    # the untouched null-keyed row must NOT surface as added+removed
    assert got == {1: "changed"}


def test_apply_cdc_null_op_is_upsert_not_delete(spark):
    from graphique_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame([(1, "a")], "k int, v string")
    log = spark.createDataFrame(
        [(1, "b", 2, None)], "k int, v string, seq int, op string"
    )
    out = apply_cdc(base, log, keys=["k"]).collect()
    # a malformed (null-op) log row must not silently delete the row
    assert [(r["k"], r["v"]) for r in out] == [(1, "b")]


def test_profile_saturates_huge_extrema_and_skips_intervals(spark):
    from graphique_spark.operators.profile import _SCALE_CAP, profile

    df = spark.createDataFrame([(10**18,), (-(10**18),)], "huge long")
    [row] = profile(df).collect()
    # 1e18 * 1e6 overflows long: must saturate, not raise (ANSI) or wrap
    assert row["min_num_scaled"] == -int(_SCALE_CAP)
    assert row["max_num_scaled"] == int(_SCALE_CAP)
    iv = spark.sql("SELECT INTERVAL '3' DAY AS iv")
    [row] = profile(iv).collect()
    # 'interval day' startswith 'int' must not route down the numeric path
    assert row["min_num_scaled"] is None and row["min_str"] is not None


def test_kll_quantile_labels_distinct_and_unrounded(tables):
    from graphique_spark.operators.sketch import kll_quantiles

    out = kll_quantiles(
        tables["orders"].df, "o_totalprice", q=(0.29, 0.99, 0.999)
    )
    assert {"q29", "q99", "q99_9"} <= set(out.columns)
    [r] = out.collect()
    assert r["q99"] <= r["q99_9"]


def test_asof_rejects_mismatched_key_lists(spark):
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 5, "a")], "k long, ts long, v string")
    # right_by=[] is falsy and falls back to by (documented); a genuinely
    # mismatched list must raise instead of zip-truncating
    with pytest.raises(ValueError, match="right_by"):
        asof_join(left, right, on="ts", by=["k"], right_by=["k", "v"])


def test_asof_null_right_on_never_matches(spark):
    # a right row with NULL `on` has no position on the time axis; before
    # the guard it sorted nulls-first and leaked its payload into every
    # left row preceding the first real right row
    left = spark.createDataFrame([(1,), (6,)], "ts long")
    right = spark.createDataFrame([(None, "leak"), (5, "real")], "ts long, v string")
    got = {r["ts"]: r["v"] for r in asof_join(left, right, on="ts").collect()}
    assert got == {1: None, 6: "real"}


def test_incremental_var_all_null_group_is_null(spark):
    from graphique_spark.operators.incremental import aggregate_state, finalize_state

    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 2.0), ("b", 4.0)], "k string, v double"
    )
    state = aggregate_state(df, ["k"], {"var": ("var", "v")})
    got = {r["k"]: r["var"] for r in finalize_state(state, ["k"], {"var": ("var", "v")}).collect()}
    # all-null group: NULL variance (matching Spark/DuckDB var_pop over
    # no values), not the 0.0 clamp
    assert got["a"] is None
    assert got["b"] == pytest.approx(1.0)


def test_profile_empty_columns_means_no_columns(spark):
    from graphique_spark.operators.profile import profile

    df = spark.createDataFrame([(1, "x")], "a long, b string")
    assert profile(df, columns=[]).count() == 0
    assert profile(df).count() == 2


def test_range_join_rejects_nonpositive_bucket_width(spark):
    from graphique_spark.operators.rangejoin import range_join

    points = spark.createDataFrame([(1.0,)], "p double")
    ranges = spark.createDataFrame([(0.0, 2.0)], "lo double, hi double")
    for width in (0.0, -1.0):
        with pytest.raises(ValueError, match="bucket_width"):
            range_join(points, ranges, "p", "lo", "hi", bucket_width=width)


def test_run_ids_nan_run_spans_partitions(spark):
    # an all-NaN run crossing repartitionByRange boundaries must stay ONE
    # run: the partition-boundary comparison mirrors eqNullSafe (NaN==NaN),
    # not Python's nan != nan
    rows = [(i, float("nan")) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double")
    runs = with_run_ids(df, ["v"], ["id"])
    assert runs.agg(F.count_distinct("_run")).first()[0] == 1
    # and None runs too (regression guard for the same code path)
    rows = [(i, None) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double")
    assert with_run_ids(df, ["v"], ["id"]).agg(F.count_distinct("_run")).first()[0] == 1


def test_det_salt_spreads_duplicate_hot_rows(spark):
    # fully duplicate hot-key rows must NOT all hash to one salt, or the
    # skewed key still lands on a single reducer after salting
    from graphique_spark.operators.skew import _det_salt

    hot = spark.createDataFrame([("hot", 1)] * 640, "k string, v long").repartition(8)
    n_salts = hot.select(_det_salt(hot, 8).alias("s")).agg(F.count_distinct("s")).first()[0]
    assert n_salts > 1
    # map-typed columns are unhashable by xxhash64: skipped, not crashed
    m = spark.createDataFrame([({"a": 1}, 2)], "m map<string,long>, v long")
    assert m.select(_det_salt(m, 8).alias("s")).first()["s"] in range(8)


def test_rank_filter_column_named_dash(spark):
    # "--x" = descending on a column literally named "-x"; lstrip("-")
    # would have resolved it to a nonexistent column "x"
    from graphique_spark.operators.topk import rank_filter

    df = spark.createDataFrame([(1,), (3,), (3,), (2,)], "`-x` long")
    got = sorted(r["-x"] for r in rank_filter(df, ["--x"], rank=2).collect())
    assert got == [3, 3]


def test_with_run_ids_nan_run_spans_partition_boundaries(spark):
    """A NaN run crossing range-partition boundaries must stay ONE run:
    the driver-side boundary stitch mirrors eqNullSafe INCLUDING NaN==NaN
    (Python's nan != nan would fabricate a break at every boundary inside
    a NaN run). 60 ordered rows over 4 shuffle partitions guarantee the
    middle NaN block straddles at least one boundary."""
    from pyspark.sql import functions as F

    from graphique_spark.operators.sequence import with_run_ids

    nan = float("nan")
    vals = [1.0] * 10 + [nan] * 30 + [2.0] * 10 + [None] * 10
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, g double").repartition(5)
    out = with_run_ids(df, by=["g"], order_by=["id"]).collect()
    by_run = {}
    for r in out:
        by_run.setdefault(r["_run"], []).append(r["id"])
    runs = [sorted(ids) for _, ids in sorted(by_run.items())]
    assert runs == [
        list(range(0, 10)),
        list(range(10, 40)),   # the NaN block: one run, never split
        list(range(40, 50)),
        list(range(50, 60)),   # the NULL block: one run (eqNullSafe)
    ], runs


def test_asof_tie_break_is_deterministic_greatest_payload(spark):
    """Multiple right rows sharing (key, on) used to resolve by partition
    order; the join must now pick the GREATEST payload
    (struct-lexicographic) so reruns agree."""
    from graphique_spark.operators.asof import asof_join

    l = spark.createDataFrame([(0, 5, 0), (0, 1, 1)], "g long, t long, u long")
    r = spark.createDataFrame(
        [(0, 3, 7, "x"), (0, 3, 9, "z"), (0, 3, 9, "a"), (0, 3, 2, "y")],
        "g long, t long, bid long, tag string",
    ).repartition(4)
    for direction, matched_u in (("backward", 0), ("forward", 1)):
        got = {
            x["u"]: (x["bid"], x["tag"])
            for x in asof_join(l, r, on="t", by=["g"], direction=direction).collect()
        }
        assert got[matched_u] == (9, "z"), (direction, got)
        assert got[1 - matched_u] == (None, None), (direction, got)


def _asof_frames(spark, extra):
    cols = ", ".join(f"c{i} long" for i in range(extra))
    left = spark.createDataFrame([(1, 10) + tuple(range(extra))], f"k int, t long, {cols}")
    right = spark.createDataFrame([(1, 5, "z")], "k int, t long, v string")
    left.schema, right.schema  # noqa: B018 -- resolve the input schemas
    return left, right


def test_asof_build_cost_flat_in_left_columns(spark, py4j_calls):
    # the join is one SQL text over both frames: a left column adds a
    # quoted name to the text, not a Column built through py4j (built as
    # DataFrame steps it took 504 / 1,554 commands at 2 / 32 columns)
    frames = {n: _asof_frames(spark, n) for n in (2, 32)}

    def build(extra):
        left, right = frames[extra]
        start = py4j_calls.n
        asof_join(left, right, on="t", by=["k"])
        return py4j_calls.n - start

    build(2)  # first build: one-time lookups
    n2, n32 = build(2), build(32)
    assert n32 <= 1.1 * n2


def test_asof_keeps_left_types(spark):
    # the union widened the left `on` and key columns to the right side's
    # wider types (k int, t int came back bigint)
    left = spark.createDataFrame([(1, 10), (2, 3)], "k int, t int")
    right = spark.createDataFrame([(1, 5, "z"), (2, 1, "y")], "k bigint, t bigint, v string")
    for by in (["k"], []):
        out = asof_join(left, right, on="t", by=by)
        types = dict(out.dtypes)
        assert (types["k"], types["t"]) == ("int", "int"), (by, out.dtypes)
        assert sorted(r["t"] for r in out.collect()) == [3, 10]
    keyed = asof_join(left, right, on="t", by=["k"])
    assert sorted(map(tuple, keyed.collect())) == [(1, 10, "z"), (2, 3, "y")]


def test_asof_internal_name_collision_raises(spark):
    # a left column named like an internal column was silently overwritten
    # (`__asof_side = 7` came back as 1)
    right = spark.createDataFrame([(5, "z")], "t long, v string")
    for name in ("__asof_side", "__asof_p"):
        left = spark.createDataFrame([(10, 7)], f"t long, {name} int")
        with pytest.raises(ValueError, match="reserved"):
            asof_join(left, right, on="t")


def test_asof_tolerance_without_sql_text_raises(spark):
    left, right = _asof_frames(spark, 2)
    with pytest.raises(ValueError, match="tolerance"):
        asof_join(left, right, on="t", by=["k"], tolerance=F.col("missing"))


def test_asof_keyed_plan_one_exchange_one_window(spark):
    left, right = _asof_frames(spark, 2)
    out = asof_join(left, right, on="t", by=["k"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1, plan
    assert re.search(r"Exchange hashpartitioning\(k#\d+", plan), plan
    assert plan.count("Window [") == 1, plan
    assert [tuple(r) for r in out.collect()] == [(1, 10, 0, 1, "z")]
