"""End-to-end GraphQL queries with golden values — the reference's test
style (reference tests/test_service.py): execute a document, assert exact
counts/values; errors raise.
"""

import pytest
from hypothesis import given as _given, settings as _settings, strategies as _st

from conftest import assert_nothing_retained, settled_persistent_rdds, slow_full


@pytest.fixture(scope="module")
def service(tables):
    from graphique_spark.service import GraphQLService

    return GraphQLService(
        {name: tables[name] for name in ["nation", "region", "orders", "lineitem", "customer"]}
    )


@pytest.fixture(scope="module")
def single(tables):
    from graphique_spark.service import GraphQLService

    return GraphQLService(tables["nation"])


def test_reflection(service):
    data = service.execute("{ nation { count schema { names types } } }")
    assert data["nation"]["count"] == 25
    assert data["nation"]["schema"]["names"] == ["n_nationkey", "n_name", "n_regionkey"]
    assert data["nation"]["schema"]["types"] == ["int", "string", "int"]


def test_columns_and_row(service):
    data = service.execute(
        """{ nation {
            columns { n_name { values(limit: 2) count }
                      n_regionkey { min max nunique distinct { length } } }
            row(index: 3) { n_name n_nationkey } } }"""
    )
    nation = data["nation"]
    assert nation["columns"]["n_name"] == {"values": ["NATION_0", "NATION_1"], "count": 25}
    assert nation["columns"]["n_regionkey"] == {
        "min": 0, "max": 4, "nunique": 5, "distinct": {"length": 5}
    }
    assert nation["row"] == {"n_name": "NATION_3", "n_nationkey": 3}


def test_typed_filter_and_where(service, oracle):
    data = service.execute(
        """{ orders { filter(
              o_orderstatus: {eq: ["F"]},
              where: {gt: [{name: "o_totalprice"}, {value: 150000}]}) { count } } }"""
    )
    [[expected]] = oracle.execute(
        "SELECT count(*) FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 150000"
    ).fetchall()
    assert data["orders"]["filter"]["count"] == expected


def test_filter_eq_list_and_empty(service):
    data = service.execute(
        """{ nation { filter(n_regionkey: {eq: [0, 2]}) { count } } }"""
    )
    assert data["nation"]["filter"]["count"] == 10
    data = service.execute("""{ nation { filter(n_regionkey: {eq: []}) { count } } }""")
    assert data["nation"]["filter"]["count"] == 0


def test_group_aggregate_order(service, oracle):
    data = service.execute(
        """{ orders { group(by: ["o_orderpriority"], counts: "n",
                aggregate: {sum: [{name: "o_totalprice", alias: "total"}]}) {
              order(by: ["-n"], limit: 2) {
                columns { o_orderpriority { values } }
                n: column(name: "n") { values }
                total: column(name: "total") { values } } } } }"""
    )
    rows = oracle.execute(
        """SELECT o_orderpriority, count(*) n, sum(o_totalprice) total
           FROM orders GROUP BY 1 ORDER BY n DESC LIMIT 2"""
    ).fetchall()
    got = data["orders"]["group"]["order"]
    assert got["columns"]["o_orderpriority"]["values"] == [r[0] for r in rows]
    assert got["n"]["values"] == [r[1] for r in rows]
    assert got["total"]["values"] == pytest.approx([r[2] for r in rows])


def test_project_expression_call(service, oracle):
    data = service.execute(
        """{ orders { project(columns: [{alias: "year",
                expr: {call: {func: "year", args: [{name: "o_orderdate"}]}}}]) {
              group(by: ["year"], counts: "n") { order(by: ["year"]) {
                y: column(name: "year") { values } } } } } }"""
    )
    rows = oracle.execute(
        "SELECT year(o_orderdate) y FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert data["orders"]["project"]["group"]["order"]["y"]["values"] == [r[0] for r in rows]


def test_join_broadcast(service):
    data = service.execute(
        """{ nation { join(right: "region", keys: ["n_regionkey"],
                           rkeys: ["r_regionkey"], broadcast: true) { count } } }"""
    )
    assert data["nation"]["join"]["count"] == 25


def test_set_ops_and_distinct(service):
    data = service.execute(
        """{ nation { union(tables: ["nation"]) { count
              distinct(on: ["n_nationkey"]) { count } } } }"""
    )
    assert data["nation"]["union"]["count"] == 50
    assert data["nation"]["union"]["distinct"]["count"] == 25


def test_single_root_mode(single):
    data = single.execute("{ count slice(offset: 2, limit: 1) { row { n_name } } }")
    assert data["count"] == 25
    assert data["slice"]["row"]["n_name"] == "NATION_2"


def test_order_within_groups(service):
    data = service.execute(
        """{ nation { order(by: ["n_nationkey"], limit: 1, over: ["n_regionkey"]) {
              count } } }"""
    )
    assert data["nation"]["order"]["count"] == 5  # one top row per region


def test_sql_denied_and_allowed(tables):
    from graphique_spark.service import GraphQLError, GraphQLService

    denied = GraphQLService(tables["nation"])
    with pytest.raises(GraphQLError):
        denied.execute('{ sql(query: "SELECT 1 AS one FROM self") { count } }')
    allowed = GraphQLService(tables["nation"], allow_sql=True)
    data = allowed.execute(
        '{ sql(query: "SELECT * FROM self WHERE n_regionkey = 0") { count } }'
    )
    assert data["sql"]["count"] == 5


def test_concurrent_sql_requests_read_their_own_table(spark):
    """``self`` names each request's own root even when requests over
    different roots run at once, and no ``self`` view outlives a request."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from graphique_spark.service import GraphQLService

    services = [
        (GraphQLService(spark.range(n), allow_sql=True), n) for n in (10, 1000)
    ]
    doc = '{ sql(query: "SELECT id FROM self") { count } }'

    def ask(i):
        svc, n = services[i % 2]
        return svc.execute(doc)["sql"]["count"], n

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:  # more threads than cores
            answers = list(pool.map(ask, range(64), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert [a for a in answers if a[0] != a[1]] == []
    assert not spark.catalog.tableExists("self")


def test_conflicting_expression_inputs(service):
    from graphique_spark.service import GraphQLError

    with pytest.raises(GraphQLError, match="conflicting"):
        service.execute(
            """{ orders { filter(where: {name: "o_totalprice", value: 1}) { count } } }"""
        )


def test_unnest_and_cast(service, tables):
    from graphique_spark.service import GraphQLService

    svc = GraphQLService(tables["embeddings"])
    data = svc.execute(
        """{ slice(limit: 2) { unnest(name: "embedding", offset: "pos") { count } } }"""
    )
    assert data["slice"]["unnest"]["count"] == 2 * 64  # two 64-dim vectors


def test_invalid_column_names_skipped(spark):
    from graphique_spark.dataset import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame([(1, 2)], ["ok", "0bad"])
    with pytest.warns(UserWarning, match="0bad"):
        svc = GraphQLService(Dataset(df))
    data = svc.execute("{ columns { ok { values } } }")
    assert data["columns"]["ok"]["values"] == [1]


def test_compile_query_translates_without_executing(service, oracle):
    from graphique_spark.service.translate import compile_query

    df = compile_query(
        service,
        """{ orders { filter(o_orderstatus: {eq: ["O"]}) {
               group(by: ["o_orderpriority"], counts: "n") { count } } } }""",
    )
    got = {(r["o_orderpriority"], r["n"]) for r in df.collect()}
    expected = set(
        oracle.execute(
            "SELECT o_orderpriority, count(*) FROM orders WHERE o_orderstatus='O' GROUP BY 1"
        ).fetchall()
    )
    assert got == expected


def test_window_in_project(service, oracle):
    data = service.execute(
        """{ orders { project(columns: [
              {alias: "rnk", expr: {call: {func: "rank",
                 options: {over: ["o_orderpriority"], orderBy: ["-o_totalprice"]}}}},
              {alias: "run_rev", expr: {call: {func: "sum",
                 args: [{name: "o_totalprice"}],
                 options: {over: ["o_orderpriority"], orderBy: ["o_orderkey"],
                           preceding: 1, following: 0}}}}]) {
            filter(where: {eq: [{name: "rnk"}, {value: 1}]}) {
              count
              top: column(name: "o_totalprice") { max } } } } }"""
    )
    rows = oracle.execute(
        """SELECT max(o_totalprice) FROM (
             SELECT o_totalprice, rank() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC) rnk FROM orders) WHERE rnk = 1"""
    ).fetchall()
    assert data["orders"]["project"]["filter"]["count"] == 5
    assert data["orders"]["project"]["filter"]["top"]["max"] == pytest.approx(rows[0][0])


def test_typed_scalar_leaves(service, oracle):
    data = service.execute(
        """{ orders {
          filter(where: {ge: [{name: "o_orderdate"}, {datetime: "2000-01-01T00:00:00"}]}) { count }
          shifted: project(columns: [{alias: "due",
              expr: {add: [{name: "o_orderdate"}, {duration: "P30D"}]}}]) {
            row { o_orderkey } } } }"""
    )
    [[expected]] = oracle.execute(
        "SELECT count(*) FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'"
    ).fetchall()
    assert data["orders"]["filter"]["count"] == expected
    assert data["orders"]["shifted"]["row"]["o_orderkey"] is not None


def test_duration_scalar_reference_parity(service, oracle):
    # the reference's duration scalar cases verbatim
    # (reference tests/test_core.py:16-31): year-month components fold
    # to months and keep an explicit 0M; day-time stays a timedelta
    from graphique_spark.service.scalars import _duration_isoformat, parse_duration

    cases = {
        "P1Y1M1DT1H1M1.1S": "P13M1DT1H1M1.1S",
        "P1M1DT1H1M1.1S": "P1M1DT1H1M1.1S",
        "P1DT1H1M1.1S": "P1DT1H1M1.1S",
        "PT1H1M1.1S": "PT1H1M1.1S",
        "PT1M1.1S": "PT1M1.1S",
        "PT1.1S": "PT1.1S",
        "PT1S": "PT1S",
        "P0D": "P0D",
        "PT0S": "P0D",
        "P0MT": "P0M0D",
        "P0YT": "P0M0D",
    }
    for src, want in cases.items():
        assert _duration_isoformat(parse_duration(src)) == want, src
    for bad in ("T1H", "P1H", "P", "PT"):
        with pytest.raises(ValueError):
            parse_duration(bad)

    # month-bearing duration in an expression: +1 month via make_interval
    data = service.execute(
        """{ orders {
          filtered: filter(where: {eq: [{name: "o_orderkey"}, {value: 1}]}) {
            shifted: project(columns: [{alias: "due",
                expr: {add: [{name: "o_orderdate"}, {duration: "P1M1D"}]}}]) {
              due: column(name: "due") { values } } } } }"""
    )
    [[src_date]] = oracle.execute(
        "SELECT o_orderdate FROM orders WHERE o_orderkey = 1"
    ).fetchall()
    [got] = data["orders"]["filtered"]["shifted"]["due"]["values"]
    import datetime as _dt

    base = src_date if isinstance(src_date, _dt.datetime) else _dt.datetime.combine(src_date, _dt.time())
    month = base.month % 12 + 1
    year = base.year + (base.month == 12)
    expect = base.replace(year=year, month=month) + _dt.timedelta(days=1)
    assert str(got).startswith(expect.isoformat()[:10])


def test_zero_based_rank_and_partial(service):
    data = service.execute(
        """{ nation { project(columns: [{alias: "r", expr: {call: {func: "row_number",
              options: {over: ["n_regionkey"], orderBy: ["n_nationkey"], zeroBased: true}}}}]) {
            r: column(name: "r") { min max } } } }"""
    )
    assert data["nation"]["project"]["r"] == {"min": 0, "max": 4}
    # partial=True: bad field nulls instead of raising
    data = service.execute(
        '{ nation { count } region { column(name: "nope") { values } } }', partial=True
    )
    assert data["nation"]["count"] == 25
    assert data["region"] is None or data["region"]["column"] is None


def test_rollup_cube_fields(service, oracle):
    data = service.execute(
        """{ lineitem { rollup(by: ["l_returnflag"], counts: "n") { count } } }"""
    )
    [[expected]] = oracle.execute(
        "SELECT count(*) FROM (SELECT l_returnflag FROM lineitem GROUP BY ROLLUP(l_returnflag))"
    ).fetchall()
    assert data["lineitem"]["rollup"]["count"] == expected


def test_type_and_optional_reflection(service, tables, tmp_path):
    data = service.execute("{ nation { type optional { count } } }")
    assert data["nation"]["type"] == "DataFrame"
    assert data["nation"]["optional"]["count"] == 25

    # hive-partitioned root reports its partition keys + ParquetDataset type
    from graphique_spark.service import GraphQLService
    from graphique_spark.sources import read_parquet

    dest = str(tmp_path / "events_by_type")
    tables["events"].df.write.partitionBy("event_type").parquet(dest)
    spark = tables["events"].df.sparkSession
    svc = GraphQLService(read_parquet(spark, dest))
    out = svc.execute("{ type schema { partitioning } }")
    assert out["type"] == "ParquetDataset"
    assert out["schema"]["partitioning"] == ["event_type"]


def test_optional_stops_error_propagation(service):
    # partial results: the failing optional subtree nulls out, siblings survive
    from graphql import graphql_sync

    result = graphql_sync(
        service.schema,
        '{ nation { count optional { column(name: "nope") { count } } } }',
        root_value=next(iter(service.roots.values())),
        context_value={"roots": service.roots},
    )
    assert result.data["nation"]["count"] == 25
    # every field is nullable, so the error stops at the failing leaf --
    # even finer-grained partial results than the reference's optional
    assert result.data["nation"]["optional"] == {"column": None}
    assert result.errors


def test_group_order_first_seen(service):
    data = service.execute(
        """{ orders { order(by: ["o_orderkey"]) {
               group(by: ["o_orderpriority"], order: "seen", counts: "n") {
                 columns { o_orderpriority { values } } column(name: "seen") { count } } } } }"""
    )
    grouped = data["orders"]["order"]["group"]
    # groups come back in first-seen order of the o_orderkey sort
    priorities = grouped["columns"]["o_orderpriority"]["values"]
    assert len(priorities) == len(set(priorities)) > 1
    assert grouped["column"]["count"] == len(priorities)


def test_column_index_and_try(service, tables, spark):
    from graphique_spark.service import GraphQLService
    from graphique_spark import Dataset

    df = spark.createDataFrame([([1, 2, 3], "x"), ([9], "7")], "arr array<int>, s string")
    svc = GraphQLService(Dataset(df))
    out = svc.execute('{ column(name: "arr", index: [1]) { values } }')
    assert out["column"]["values"] == [2, None]
    cast = svc.execute('{ column(name: "s", cast: "int", try: true) { values } }')
    assert cast["column"]["values"] == [None, 7]


def test_array_filter_contains(spark):
    from graphique_spark.service import GraphQLService
    from graphique_spark import Dataset

    df = spark.createDataFrame([([1, 2], "a"), ([3], "b")], "tags array<int>, id string")
    svc = GraphQLService(Dataset(df))
    out = svc.execute('{ filter(tags: {contains: 2}) { columns { id { values } } } }')
    assert out["filter"]["columns"]["id"]["values"] == ["a"]


def test_asof_join_rkeys_and_direction(spark):
    from graphique_spark.service import GraphQLService
    from graphique_spark import Dataset
    from graphique_spark.sources import roots

    trades = spark.createDataFrame([("A", 10)], "sym string, t long")
    quotes = spark.createDataFrame([("A", 8, 99.5), ("A", 18, 100.5)], "s string, t long, bid double")
    rs = roots({"trades": Dataset(trades), "quotes": Dataset(quotes)})
    svc = GraphQLService(rs)
    out = svc.execute(
        """{ trades { asofJoin(right: "quotes", on: "t", keys: ["sym"], rkeys: ["s"],
                              direction: "forward") { column(name: "bid") { values } } } }"""
    )
    assert out["trades"]["asofJoin"]["column"]["values"] == [100.5]


def test_first_class_window_ops(service, oracle):
    data = service.execute(
        """{ lineitem { filter(l_orderkey: {le: 5}) { project(columns: [
              {alias: "gap", expr: {window: {sub: {name: "l_quantity"},
                                             over: ["l_orderkey"], by: ["l_linenumber"]}}},
              {alias: "chg", expr: {window: {ne: {name: "l_partkey"},
                                             over: ["l_orderkey"], by: ["l_linenumber"],
                                             default: false}}}
            ]) { column(name: "chg") { values } } } } }"""
    )
    values = data["lineitem"]["filter"]["project"]["column"]["values"]
    want = [
        row[0]
        for row in oracle.execute(
            """SELECT coalesce(l_partkey != lag(l_partkey) OVER w, false)
               FROM lineitem WHERE l_orderkey <= 5
               WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
               ORDER BY 1"""
        ).fetchall()
    ]
    assert sorted(values) == want


def test_federation_entities_and_sdl(tables):
    # reference test_dataset.py:140-157 — _entities resolve key-filtered tables
    from graphique_spark.service import GraphQLService

    svc = GraphQLService(
        {"nation": tables["nation"], "region": tables["region"]},
        keys={"nation": ["n_nationkey"], "region": ["r_regionkey"]},
    )
    data = svc.execute(
        '{ _service { sdl } nation { __typename count } region { __typename count } }'
    )
    assert "NationTable" in data["_service"]["sdl"]
    assert data["nation"] == {"__typename": "NationTable", "count": 25}
    assert data["region"] == {"__typename": "RegionTable", "count": 5}

    data = svc.execute(
        """{ _entities(representations: {__typename: "NationTable", n_nationkey: 3}) {
             ... on NationTable { count type row { n_name } } } }"""
    )
    assert data["_entities"] == [
        {"count": 1, "type": "DataFrame", "row": {"n_name": "NATION_3"}}
    ]
    multi = svc.execute(
        """{ _entities(representations: [{__typename: "NationTable", n_nationkey: 0},
                                         {__typename: "RegionTable", r_regionkey: 1}]) {
             __typename ... on NationTable { count } ... on RegionTable { count } } }"""
    )
    assert multi["_entities"] == [
        {"__typename": "NationTable", "count": 1},
        {"__typename": "RegionTable", "count": 1},
    ]
    # each entity is a table node of its own: its leaves share one job
    out = svc.run(
        """{ _entities(representations: [{__typename: "NationTable", n_nationkey: 0},
                                         {__typename: "RegionTable", r_regionkey: 1}]) {
             ... on NationTable { count columns { n_regionkey { max } } }
             ... on RegionTable { count r: column(name: "r_regionkey") { min } } } }""",
        metrics=True,
    )
    region = svc.execute('{ nation { filter(n_nationkey: {eq: [0]}) { columns { n_regionkey { max } } } } }')
    assert out["data"]["_entities"] == [
        {"count": 1, "columns": region["nation"]["filter"]["columns"]},
        {"count": 1, "r": {"min": 1}},
    ]
    batches = out["extensions"]["metrics"]["execution"]["batches"]
    assert [(b["path"], b["leaves"]) for b in batches] == [(["_entities", 0], 2), (["_entities", 1], 2)]


def test_typed_array_column_fields(tables):
    from graphique_spark.service import GraphQLService

    svc = GraphQLService(tables["embeddings"])
    data = svc.execute(
        """{ slice(limit: 3) { columns { embedding {
              count length unnest { count } } } } }"""
    )
    col = data["slice"]["columns"]["embedding"]
    assert col["count"] == 3
    assert col["length"] == [64, 64, 64]
    assert col["unnest"]["count"] == 192


def test_struct_and_map_column_fields(spark):
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame(
        [({"a": 1, "b": "x"}, {"k1": 1.5}), ({"a": 2, "b": "y"}, {"k2": 2.5})],
        "s struct<a:int,b:string>, m map<string,double>",
    )
    svc = GraphQLService(Dataset(df))
    data = svc.execute(
        """{ columns {
              s { names types values count }
              m { keys length values count } } }"""
    )
    s, m = data["columns"]["s"], data["columns"]["m"]
    assert s["names"] == ["a", "b"] and s["types"] == ["int", "string"]
    assert s["values"] == [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    assert m["keys"] == ["k1", "k2"] and m["length"] == [1, 1]
    assert m["values"] == [{"k1": 1.5}, {"k2": 2.5}]
    assert s["count"] == 2 and m["count"] == 2


def _asgi_call(app, method="POST", body=b"", path="/"):
    # minimal in-process ASGI driver: no http client dependency
    import asyncio

    scope = {"type": "http", "method": method, "path": path, "headers": []}
    messages = [{"type": "http.request", "body": body, "more_body": False}]
    sent = []

    async def receive():
        return messages.pop(0)

    async def send(message):
        sent.append(message)

    asyncio.run(app(scope, receive, send))
    status = sent[0]["status"]
    payload = b"".join(m.get("body", b"") for m in sent[1:])
    return status, payload


def test_asgi_app_post_and_graphiql(tables):
    import json

    from graphique_spark.service import GraphQLService
    from graphique_spark.service.asgi import GraphQLApp

    app = GraphQLApp(GraphQLService(tables["nation"]), metrics=True)
    status, body = _asgi_call(
        app, body=json.dumps({"query": "{ count filter(n_regionkey: {eq: [0]}) { count } }"}).encode()
    )
    assert status == 200
    out = json.loads(body)
    assert out["data"] == {"count": 25, "filter": {"count": 5}}
    resolvers = out["extensions"]["metrics"]["execution"]["resolvers"]
    assert {tuple(r["path"]) for r in resolvers} >= {("count",), ("filter",), ("filter", "count")}
    assert all("duration" in r for r in resolvers)

    status, html = _asgi_call(app, method="GET")
    assert status == 200 and b"graphiql" in html.lower()

    status, err = _asgi_call(app, body=b"not json")
    assert status == 400
    status, _ = _asgi_call(app, method="DELETE")
    assert status == 405


def test_asgi_errors_are_json(tables):
    import json

    from graphique_spark.service import GraphQLService
    from graphique_spark.service.asgi import GraphQLApp

    app = GraphQLApp(GraphQLService(tables["nation"]))
    status, body = _asgi_call(app, body=json.dumps({"query": "{ nope }"}).encode())
    assert status == 200
    out = json.loads(body)
    assert out["data"] is None and out["errors"]


def test_values_cap_guards_driver(spark, tables):
    from graphique_spark.service import GraphQLError, GraphQLService

    svc = GraphQLService(tables["orders"])
    spark.conf.set("spark.graphique.maxValues", "10")
    try:
        with pytest.raises(GraphQLError, match="maxValues"):
            svc.execute("{ columns { o_orderkey { values } } }")
        with pytest.raises(GraphQLError, match="maxValues"):
            svc.execute("{ columns { o_orderkey { distinct { length } } } }")
        # explicit limit bypasses the cap; small distinct fits under it
        data = svc.execute(
            "{ columns { o_orderkey { values(limit: 3) } "
            "o_orderstatus { distinct { length } } } }"
        )
        assert len(data["columns"]["o_orderkey"]["values"]) == 3
        assert data["columns"]["o_orderstatus"]["distinct"]["length"] == 3
    finally:
        spark.conf.unset("spark.graphique.maxValues")


def test_map_column_leaves_respect_cap(spark):
    """MapColumn ``length``/``keys`` route through the same driver-collect
    cap as values/distinct (VERDICT r11: they previously bypassed it — an
    unbounded collect on a 100 TB map column)."""
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLError, GraphQLService

    rows = [({f"k{i}": float(i)},) for i in range(20)]
    df = spark.createDataFrame(rows, "m map<string,double>")
    svc = GraphQLService(Dataset(df))
    spark.conf.set("spark.graphique.maxValues", "10")
    try:
        with pytest.raises(GraphQLError, match="maxValues"):
            svc.execute("{ columns { m { length } } }")
        with pytest.raises(GraphQLError, match="maxValues"):
            svc.execute("{ columns { m { keys } } }")
        # an explicit limit bypasses the cap, like values
        data = svc.execute("{ columns { m { keys(limit: 5) } } }")
        assert len(data["columns"]["m"]["keys"]) == 5
    finally:
        spark.conf.unset("spark.graphique.maxValues")


def test_time_scalar_surfacing(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from graphique_spark.functions.temporal import micros_to_time, time_to_micros
    from graphique_spark.service import GraphQLService

    spark.conf.set("spark.sql.timeType.enabled", "true")
    # parquet TIME(MICROS) scans as int64 µs-since-midnight; micros_to_time
    # is the decode step to Spark 4.1's native TIME
    micros = (12 * 3600 + 34 * 60 + 56) * 1_000_000 + 789123
    df = spark.createDataFrame([(1, micros), (2, 0)], "id long, t_us long")
    timed = df.select("id", micros_to_time(F.col("t_us")).alias("t"))
    assert dict(timed.dtypes)["t"] == "time(6)"

    svc = GraphQLService(timed)
    data = svc.execute("{ schema { names types } columns { t { values } } }")
    assert data["schema"]["names"] == ["id", "t"]
    assert data["schema"]["types"][1].startswith("time")
    assert data["columns"]["t"]["values"] == ["12:34:56.789123", "00:00:00"]

    # storage-encoding roundtrip is µs-exact
    back = timed.select(time_to_micros(F.col("t")).alias("us")).collect()
    assert [r["us"] for r in back] == [micros, 0]
    # and the scalar parses ISO input
    from graphique_spark.service.scalars import Time

    assert Time.parse_value("12:34:56.789123") == dt.time(12, 34, 56, 789123)


def test_alltypes_serialization_parity(spark):
    # the reference's alltypes fixture behaviors (reference
    # tests/test_models.py:57-84): decimals serialize as STRINGS, sample
    # std/var over a single non-null value is null (not 0), mode ignores
    # nulls, quantile returns a float list, fillNull accepts one literal
    # for int and float columns alike
    import datetime as _dt
    from decimal import Decimal as D

    from graphique_spark.dataset import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame(
        [
            (0, 0, 0.0, D("0"), _dt.datetime(1970, 1, 1), _dt.date(1970, 1, 1), "zero"),
            (None, None, None, None, None, None, None),
        ],
        "int32 int, int64 long, float64 double, dec decimal(10,0), ts timestamp, d date, s string",
    )
    svc = GraphQLService(Dataset(df))
    data = svc.execute("{ columns { dec { values } } }")
    assert data["columns"]["dec"]["values"] == ["0", None]
    for name in ("int32", "int64", "float64"):
        stats = svc.execute(
            f"{{ columns {{ {name} {{ mean std var mode quantile(q: [0.5]) }} }} }}"
        )["columns"][name]
        assert stats["mean"] == 0.0
        assert stats["std"] is None and stats["var"] is None
        assert stats["mode"] == 0
        assert stats["quantile"] == [0.0]
    filled = svc.execute(
        """{ fillNull(subset: ["int32", "float64"], value: 1)
             { columns { int32 { values } float64 { values } } } }"""
    )["fillNull"]["columns"]
    assert filled["int32"]["values"] == [0, 1]
    assert filled["float64"]["values"] == [0.0, 1.0]
    # temporal reflection: year over timestamp AND date, null-preserving
    for name in ("ts", "d"):
        years = svc.execute(
            f"""{{ project(columns: [{{alias: "y",
                 expr: {{call: {{func: "year", args: [{{name: "{name}"}}]}}}}}}])
                 {{ y: column(name: "y") {{ values }} }} }}"""
        )["project"]["y"]["values"]
        assert years == [1970, None]


def test_typed_base64_and_time_literals(spark):
    # reference tests/test_models.py:197-200: a base64 SCALAR decodes to
    # bytes before entering the expression (a raw string literal would
    # cast to its utf8 bytes instead)
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame([(1, bytearray(b"")), (2, None)], "id long, bytes binary")
    svc = GraphQLService(Dataset(df))
    data = svc.execute(
        """{ project(columns: [{alias: "bytes",
            expr: {coalesce: [{name: "bytes"}, {base64: "Xw=="}]}}]) {
          columns { bytes { values } } } }"""
    )
    assert data["project"]["columns"]["bytes"]["values"] == ["", "Xw=="]

    tdf = spark.createDataFrame([(1, "09:30:00"), (2, "15:59:00")], "id long, t string")
    tsvc = GraphQLService(
        Dataset(tdf.selectExpr("id", "CAST(t AS TIME) AS t"))
    )
    data = tsvc.execute(
        """{ filter(where: {ge: [{name: "t"}, {time: "12:00:00"}]}) {
          columns { id { values } } } }"""
    )
    assert data["filter"]["columns"]["id"]["values"] == [2]


def test_negative_duration_serialize_roundtrips():
    # uniform-negative month-bearing durations must serialize to the
    # leading-sign ISO form their own parser accepts (per-component
    # negatives like 'P-1M-2DT-3H' are invalid ISO-8601)
    from graphique_spark.service.scalars import (
        MonthDayDuration,
        _duration_isoformat,
        parse_duration,
    )

    for text in ["-P1M2DT3H", "-P0M1D", "-P1Y2M3DT4H5M6.5S", "-P0MT0.25S"]:
        value = parse_duration(text)
        rendered = _duration_isoformat(value)
        assert rendered.startswith("-P")
        assert parse_duration(rendered) == value
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mixed-sign"):
        _duration_isoformat(MonthDayDuration(months=1, days=-2))


def test_call_escape_cannot_reach_raw_sql(service):
    # call(func: "expr") would compile F.expr(<attacker SQL>) and bypass
    # the allow_sql=False gate entirely (java_method/reflect execution)
    with pytest.raises(Exception, match="not callable"):
        service.execute(
            """{ nation { filter(where: {call: {func: "expr",
                  options: {str: "1 = 1"}}}) { count } } }"""
        )
    with pytest.raises(Exception, match="not callable"):
        service.execute(
            """{ nation { filter(where: {call: {func: "java_method"}}) { count } } }"""
        )


def test_asof_tolerance_month_duration(spark):
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService
    from graphique_spark.sources import roots
    import datetime as dt

    trades = spark.createDataFrame(
        [("A", dt.datetime(2024, 3, 1))], "sym string, t timestamp"
    )
    quotes = spark.createDataFrame(
        [("A", dt.datetime(2024, 1, 1), 1.0), ("A", dt.datetime(2024, 2, 20), 2.0)],
        "s string, t timestamp, bid double",
    )
    svc = GraphQLService(roots({"trades": Dataset(trades), "quotes": Dataset(quotes)}))
    # month-bearing ISO duration parses to MonthDayDuration, which F.lit
    # rejects — must compile via make_interval
    out = svc.execute(
        """{ trades { asofJoin(right: "quotes", on: "t", keys: ["sym"], rkeys: ["s"],
                              toleranceIso: "P1M") { column(name: "bid") { values } } } }"""
    )
    assert out["trades"]["asofJoin"]["column"]["values"] == [2.0]


def test_asgi_non_object_json_is_400(tables):
    import json as _json

    from graphique_spark.service import GraphQLService
    from graphique_spark.service.asgi import GraphQLApp

    app = GraphQLApp(GraphQLService(tables["nation"]))
    for body in (b"[1]", b'"hello"', b"3"):
        status, _ = _asgi_call(app, body=body)
        assert status == 400, body


def test_where_column_name_is_reserved(spark):
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame([(1, "x")], "id long, where string")
    with pytest.raises(Exception, match="reserved"):
        GraphQLService(Dataset(df)).execute("{ count }")


def test_concurrent_request_persist_lifecycle(service, spark):
    """Concurrent requests persist nothing (SURVEY §7): N overlapping
    execute() calls on one service, each with a table field of several
    sub-selections whose leaves share batch jobs, including identical
    documents from different threads. Every answer equals its serial
    execution, the CacheManager stays empty throughout the burst, and no
    persisted blocks survive once every request finishes."""
    import concurrent.futures

    queries = [
        # two sub-selections under filter -> one batch job for the leaves
        """{ lineitem { filter(l_returnflag: {eq: ["R"]}) {
              count columns { l_quantity { sum } } } } }""",
        """{ orders { filter(o_orderstatus: {eq: ["F"]}) {
              count columns { o_totalprice { min max } } } } }""",
        # same PLAN as the first document (plan-dedup collision case)
        """{ lineitem { filter(l_returnflag: {eq: ["R"]}) {
              count columns { l_quantity { sum } } } } }""",
    ]
    expected = [service.execute(q) for q in queries]
    jsc = spark.sparkContext._jsc

    def settled_rdd_count():
        # DataFrame.unpersist() is non-blocking: block deregistration can
        # lag request end, so poll until the count holds still
        import time

        prev, stable = -1, 0
        for _ in range(60):
            cur = jsc.getPersistentRDDs().size()
            stable = stable + 1 if cur == prev else 0
            if stable >= 3:
                return cur
            prev = cur
            time.sleep(0.1)
        return prev

    baseline_rdds = settled_rdd_count()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # other tests in the session may legitimately hold cache entries; only
    # assert emptiness if we started empty (we always assert no net growth)
    was_empty = cache_manager.isEmpty()

    def run(i):
        data = service.execute(queries[i % len(queries)])
        return i % len(queries), data, cache_manager.isEmpty()

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(run, range(24)))
    for qi, data, _ in results:
        assert data == expected[qi]
    if was_empty:
        assert all(empty for _, _, empty in results)

    assert settled_rdd_count() <= baseline_rdds
    if was_empty:
        assert cache_manager.isEmpty()


def test_failing_resolver_releases_persisted_cache(service, spark):
    """A request with a table field of several sub-selections whose
    sibling resolver errors leaves no persisted blocks behind: the
    service persists nothing, partial results included."""
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    out = service.run(
        """{ lineitem { filter(l_returnflag: {eq: ["R"]}) {
              count column(name: "no_such_column") { values } } } }"""
    )
    assert out.get("errors"), "expected a resolver error"
    import time

    for _ in range(50):
        if jsc.getPersistentRDDs().size() <= baseline:
            break
        time.sleep(0.1)
    assert jsc.getPersistentRDDs().size() <= baseline


def test_ordered_operators_retain_nothing_after_request(service, spark):
    """``runs`` and ``take`` pin partition contents between their summary
    job and their row job. Once the request returns, that cut must not
    outlive it: the CacheManager stays empty and the persistent-RDD count
    settles back to where it was (a ``DataFrame.persist`` here leaked one
    CacheManager entry per request in a long-running service)."""
    baseline = settled_persistent_rdds(spark, 0)
    runs = service.execute(
        """{ orders { runs(by: ["o_orderstatus"], orderBy: ["o_orderkey"],
              counts: "n") { count } } }"""
    )
    assert runs["orders"]["runs"]["count"] > 0
    take = service.execute(
        """{ nation { take(indices: [3, 0]) {
              columns { n_nationkey { values } } } } }"""
    )
    assert take["nation"]["take"]["columns"]["n_nationkey"]["values"] == [3, 0]
    assert_nothing_retained(spark, baseline)


# --- concurrent-request thread stress (VERDICT r09 item 7) --------------
# A CacheManager race under request-scoped persists was once found by a
# fixed 3-document burst one size smaller than this; randomizing the
# document mix (chained filter->slice levels, shared roots, duplicate
# plans across threads) probes the interleavings a fixed list can miss.

_STRESS_ROOTS = {
    "lineitem": ("l_returnflag", ["R", "A", "N"], "l_quantity"),
    "orders": ("o_orderstatus", ["F", "O", "P"], "o_totalprice"),
    "customer": ("c_mktsegment", ["BUILDING", "AUTOMOBILE"], "c_acctbal"),
}
# join targets per root, so stress documents run JOIN plans (broadcast or
# shuffle shapes) under the same concurrent traffic
_STRESS_JOINS = {
    "lineitem": ("orders", "l_orderkey", "o_orderkey"),
    "orders": ("customer", "o_custkey", "c_custkey"),
    "customer": ("nation", "c_nationkey", "n_nationkey"),
}


def _stress_doc(root, value_i, agg, limit, shape="filter_slice"):
    """One randomized request. ``shape`` widens the operator grammar
    (VERDICT r10 item 7) beyond filter->slice chains: group/join/window
    stages put Aggregate, Join and Window plans under the same concurrent
    traffic. Every document is deterministic: filters pin group keys to
    one value, leaves are order-insensitive aggregates."""
    col, values, num = _STRESS_ROOTS[root]
    value = values[value_i % len(values)]
    flt = f'filter({col}: {{eq: ["{value}"]}})'
    if shape == "group":
        # single group (the filter pins the key) -> deterministic values
        inner = (
            f'group(by: ["{col}"], counts: "n", '
            f'aggregate: {{{agg}: [{{name: "{num}", alias: "a"}}]}}) '
            f"{{ count columns {{ {col} {{ values }} }} }}"
        )
        return f"{{ {root} {{ {flt} {{ {inner} }} }} }}"
    if shape == "join":
        right, lkey, rkey = _STRESS_JOINS[root]
        inner = (
            f'join(right: "{right}", keys: ["{lkey}"], rkeys: ["{rkey}"]) '
            f"{{ count columns {{ {num} {{ {agg} }} }} }}"
        )
        return f"{{ {root} {{ {flt} {{ {inner} }} }} }}"
    if shape == "window":
        inner = (
            f'project(columns: [{{alias: "rnk", expr: {{call: {{func: "rank", '
            f'options: {{over: ["{col}"], orderBy: ["-{num}"]}}}}}}}}]) '
            f"{{ filter(where: {{le: [{{name: \"rnk\"}}, {{value: {limit or 3}}}]}}) "
            f"{{ count columns {{ {num} {{ min }} }} }} }}"
        )
        return f"{{ {root} {{ {flt} {{ {inner} }} }} }}"
    inner = f"count columns {{ {num} {{ {agg} }} }}"
    if limit:
        # a second nesting level with >=2 sub-selections: two table nodes
        # batch their leaves over overlapping plans
        inner += f" slice(limit: {limit}) {{ count columns {{ {num} {{ min }} }} }}"
    return f"{{ {root} {{ {flt} {{ {inner} }} }} }}"


@_settings(max_examples=5, deadline=None)
@_given(
    docs=_st.lists(
        _st.builds(
            _stress_doc,
            root=_st.sampled_from(sorted(_STRESS_ROOTS)),
            value_i=_st.integers(0, 2),
            agg=_st.sampled_from(["sum", "min", "max"]),
            limit=_st.sampled_from([0, 3, 7]),
            shape=_st.sampled_from(["filter_slice", "group", "join", "window"]),
        ),
        min_size=3,
        max_size=8,
    )
)
# ~167s randomized 8-thread stress: default-mode concurrency coverage
# stays via test_concurrent_request_persist_lifecycle; full-fidelity
# randomized stress behind GRAPHIQUE_FULL_TESTS=1 (VERDICT r12 item 2)
@slow_full
def test_persist_registry_thread_stress(service, spark, docs):
    """Randomized concurrent stress: 8 threads x 24 requests over a random
    document mix sharing roots (duplicate plans guaranteed by the
    pigeonhole of 24 tasks over <=8 documents). Every response must equal
    its serial execution, and once all requests finish no persisted RDD
    blocks may survive and the CacheManager holds nothing new."""
    import concurrent.futures
    import math
    import time

    jsc = spark.sparkContext._jsc

    def drained_rdd_count(target, timeout=30.0):
        """Block-drop after unpersist(blocking=False) is ASYNC; on a loaded
        box a short 'stable for 0.3s' heuristic reads mid-drain plateaus as
        settled (observed in full-suite runs at 57 min of sustained load).
        Wait until the count reaches ``target`` or the timeout expires —
        only a count that NEVER drains is a leak."""
        deadline = time.monotonic() + timeout
        cur = jsc.getPersistentRDDs().size()
        while cur > target and time.monotonic() < deadline:
            time.sleep(0.2)
            cur = jsc.getPersistentRDDs().size()
        return cur

    def approx_eq(a, b):
        """Exact on everything except floats: Spark gives no fp summation
        -order guarantee between cached and uncached executions of the
        same plan, so sums differ in the last bit across runs."""
        if isinstance(a, float) and isinstance(b, float):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) or (
                math.isnan(a) and math.isnan(b)
            )
        if isinstance(a, dict) and isinstance(b, dict):
            return a.keys() == b.keys() and all(approx_eq(a[k], b[k]) for k in a)
        if isinstance(a, list) and isinstance(b, list):
            return len(a) == len(b) and all(map(approx_eq, a, b))
        return a == b

    expected = [service.execute(d) for d in docs]
    baseline = drained_rdd_count(0)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_manager.isEmpty()

    def run(i):
        return i % len(docs), service.execute(docs[i % len(docs)])

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(run, range(24)))
    for qi, data in results:
        assert approx_eq(data, expected[qi]), (data, expected[qi])

    assert drained_rdd_count(baseline) <= baseline
    if was_empty:
        assert cache_manager.isEmpty()


# --- leaf batches: at most two Spark jobs per table node ----------------


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"leaf-batches-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "leaf batch job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_GROUP_VALUES = """{{ lineitem {{ filter(l_returnflag: {{eq: ["R"]}}) {{
    group(by: ["l_linestatus"], counts: "n",
          aggregate: {{sum: [{{name: "l_quantity", alias: "q"}}]}}) {{
      order(by: ["l_linestatus"]) {{ {leaves} }} }} }} }} }}"""


def test_group_values_document_runs_one_values_job(service, spark, oracle):
    """The three ``values`` leaves of a dashboard group_values document
    share one job: the document runs the jobs of its one-leaf version."""
    leaves = (
        'columns { l_linestatus { values } } n: column(name: "n") { values } '
        'q: column(name: "q") { values }'
    )
    service.execute(_GROUP_VALUES.format(leaves=leaves))  # warm the plans
    data, jobs = _jobs(spark, lambda: service.execute(_GROUP_VALUES.format(leaves=leaves)))
    one = "columns { l_linestatus { values } }"
    _, one_leaf_jobs = _jobs(spark, lambda: service.execute(_GROUP_VALUES.format(leaves=one)))
    assert jobs == one_leaf_jobs
    order = data["lineitem"]["filter"]["group"]["order"]
    rows = oracle.execute(
        "SELECT l_linestatus, count(*), sum(l_quantity) FROM lineitem "
        "WHERE l_returnflag = 'R' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert order["columns"]["l_linestatus"]["values"] == [r[0] for r in rows]
    assert order["n"]["values"] == [r[1] for r in rows]
    assert order["q"]["values"] == pytest.approx([float(r[2]) for r in rows])


def test_count_and_aggregate_siblings_run_one_job(service, spark, oracle):
    """A table ``count``, a ``columns`` aggregate and an aliased ``column``
    aggregate under one node are one select: the jobs of a lone count."""
    doc = """{ lineitem { filter(l_returnflag: {eq: ["R"]}) {
        count columns { l_quantity { sum } } t: column(name: "l_tax") { sum } } } }"""
    lone = '{ lineitem { filter(l_returnflag: {eq: ["R"]}) { count } } }'
    service.execute(doc)
    data, jobs = _jobs(spark, lambda: service.execute(doc))
    _, lone_jobs = _jobs(spark, lambda: service.execute(lone))
    assert jobs == lone_jobs
    [(n, qty, tax)] = oracle.execute(
        "SELECT count(*), sum(l_quantity), sum(l_tax) FROM lineitem WHERE l_returnflag = 'R'"
    ).fetchall()
    got = data["lineitem"]["filter"]
    assert got["count"] == n
    assert got["columns"]["l_quantity"]["sum"] == pytest.approx(float(qty))
    assert got["t"]["sum"] == pytest.approx(float(tax))


def test_bad_batched_sibling_nulls_only_itself(service):
    """A failing leaf in a batch fails the batch; every leaf then runs its
    own job, so only the bad one is nulled (partial results)."""
    doc = """{ orders { filter(o_orderstatus: {eq: ["P"]}) { order(by: ["o_orderkey"]) {
        count columns { o_orderkey { values min } }
        bad: column(name: "nope") { values }
        price: column(name: "o_totalprice") { values max }
        status: column(name: "o_orderstatus", cast: "int") { max } } } } }"""
    out = service.run(doc)
    node = out["data"]["orders"]["filter"]["order"]
    # the unknown column fails the values batch at analysis; the ANSI cast
    # fails the aggregate batch at run time
    assert node.pop("bad") is None and node.pop("status") == {"max": None}
    assert sorted(e["path"][3:] for e in out["errors"]) == [["bad"], ["status", "max"]]
    alone = service.execute(
        """{ orders { filter(o_orderstatus: {eq: ["P"]}) { order(by: ["o_orderkey"]) {
            count columns { o_orderkey { values min } }
            price: column(name: "o_totalprice") { values max } } } } }"""
    )
    assert node == alone["orders"]["filter"]["order"]


def test_values_cap_raises_for_every_batched_leaf(spark, tables):
    from graphique_spark.service import GraphQLService

    svc = GraphQLService(tables["orders"])
    spark.conf.set("spark.graphique.maxValues", "10")
    try:
        out = svc.run(
            '{ columns { o_orderkey { values } o_totalprice { values } } '
            'k: column(name: "o_custkey") { values } }'
        )
    finally:
        spark.conf.unset("spark.graphique.maxValues")
    assert out["data"] == {
        "columns": {"o_orderkey": {"values": None}, "o_totalprice": {"values": None}},
        "k": {"values": None},
    }
    assert sorted(e["path"][-2] for e in out["errors"]) == ["k", "o_orderkey", "o_totalprice"]
    assert all("maxValues" in e["message"] for e in out["errors"])


def test_mixed_values_limits_keep_their_row_counts(service):
    data = service.execute(
        """{ orders { order(by: ["o_orderkey"]) {
            columns { o_orderkey { values(limit: 2) } o_totalprice { values(limit: 3) } }
            k: column(name: "o_orderkey") { values(limit: 3) }
            p: column(name: "o_totalprice") { values(limit: 2) } } } }"""
    )["orders"]["order"]
    keys, prices = data["columns"]["o_orderkey"]["values"], data["columns"]["o_totalprice"]["values"]
    assert (len(keys), len(prices), len(data["k"]["values"]), len(data["p"]["values"])) == (2, 3, 3, 2)
    assert data["k"]["values"][:2] == keys and data["p"]["values"] == prices[:2]


def test_batched_nested_values_keep_json_form(spark):
    """Array, struct and map ``values`` answered by a batch are exactly
    what each leaf returns on its own."""
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame(
        [([1, 2], (1, "x"), {"a": 1.0}), (None, (2, None), {}), ([], None, None)],
        "arr array<int>, st struct<a:int,b:string>, m map<string,double>",
    )
    svc = GraphQLService(Dataset(df))
    leaves = [
        "columns { arr { values } }",
        "columns { st { values } }",
        "columns { m { values } }",
        'a: column(name: "arr") { values }',
        's: column(name: "st") { values }',
    ]
    out = svc.run(f"{{ columns {{ arr {{ values }} st {{ values }} m {{ values }} }} "
                  f"{' '.join(leaves[3:])} }}", metrics=True)
    assert out["extensions"]["metrics"]["execution"]["batches"][0]["leaves"] == 5
    batched = out["data"]
    for doc in leaves:
        [(key, alone)] = svc.execute(f"{{ {doc} }}").items()
        if key == "columns":
            [(key, alone)] = alone.items()
            assert batched["columns"][key] == alone
        else:
            assert batched[key] == alone
    assert batched["columns"]["arr"]["values"] == [[1, 2], None, []]
    assert batched["columns"]["st"]["values"] == [{"a": 1, "b": "x"}, {"a": 2, "b": None}, None]
    assert batched["columns"]["m"]["values"] == [{"a": 1.0}, {}, None]


def test_untyped_column_struct_values_are_objects(spark):
    """A struct column reached by name through ``column(name:)`` serializes
    its values as JSON objects, as the typed ``columns`` field does."""
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame([((1, "x"),), (None,)], "st struct<a:int,b:string>")
    svc = GraphQLService(Dataset(df))
    data = svc.execute('{ columns { st { values } } s: column(name: "st") { values first } }')
    assert data["s"]["values"] == data["columns"]["st"]["values"] == [{"a": 1, "b": "x"}, None]
    assert data["s"]["first"] == {"a": 1, "b": "x"}


def test_unordered_slice_values_come_from_same_rows(spark):
    """Sibling ``values`` of an unordered ``slice(limit:)`` over a
    multi-partition frame are one job, so they read the same rows: a
    nondeterministic column differs between jobs, never within one."""
    import random

    from pyspark.sql import functions as F

    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    draw = F.udf(lambda: random.randrange(10**9), "long").asNondeterministic()
    df = spark.range(0, 4000, numPartitions=8).withColumn("r", draw())
    svc = GraphQLService(Dataset(df.withColumn("tens", F.col("r") * 10)))
    data = svc.execute(
        '{ slice(limit: 40) { columns { r { values } tens { values } } '
        't: column(name: "tens") { values } } }'
    )["slice"]
    drawn = data["columns"]["r"]["values"]
    assert len(drawn) == 40
    assert data["columns"]["tens"]["values"] == [r * 10 for r in drawn] == data["t"]["values"]


def test_compile_paths_run_no_job_and_persist_nothing(service, spark):
    """``compile_dataset`` and a ``toSql`` request over a multi-child,
    multi-leaf document run no Spark job, cache nothing and leave the
    persistent RDDs as they were."""
    from graphique_spark.service.translate import compile_dataset

    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_manager.isEmpty()
    rdds = jsc.getPersistentRDDs().size()
    doc = """{ lineitem { filter(l_returnflag: {eq: ["R"]}) {
        count columns { l_quantity { sum values } l_tax { max } }
        group(by: ["l_linestatus"], counts: "n") {
          n: column(name: "n") { values sum } columns { l_linestatus { values } } } } } }"""
    sql, jobs = _jobs(spark, lambda: compile_dataset(service, doc).to_sql())
    assert "GROUP BY" in sql.upper() and jobs == 0
    to_sql = """{ lineitem { filter(l_returnflag: {eq: ["R"]}) { toSql
        group(by: ["l_linestatus"], counts: "n") { toSql } order(by: ["l_tax"]) { toSql } } } }"""
    data, jobs = _jobs(spark, lambda: service.execute(to_sql))
    assert data["lineitem"]["filter"]["group"]["toSql"] and jobs == 0
    assert jsc.getPersistentRDDs().size() == rdds
    if was_empty:
        assert cache_manager.isEmpty()


def test_metrics_report_batches_per_table_node(service):
    leaves = (
        'columns { l_linestatus { values } } n: column(name: "n") { values } '
        'q: column(name: "q") { values max }'
    )
    out = service.run(_GROUP_VALUES.format(leaves=leaves), metrics=True)
    [batch] = out["extensions"]["metrics"]["execution"]["batches"]
    assert batch["path"] == ["lineitem", "filter", "group", "order"]
    assert batch["leaves"] == 4  # three values leaves; the lone max is a one-leaf job
    hours, minutes, seconds = batch["duration"].split(":")
    assert hours == "0" and minutes == "00" and 0 < float(seconds) < 60


def _seconds(duration):
    hours, minutes, seconds = duration.split(":")
    return 3600 * int(hours) + 60 * int(minutes) + float(seconds)


def test_unnest_leaves_share_one_job(spark):
    """``unnest`` is a table node of its own: its aggregate leaves are one
    job, the jobs of a lone ``count``."""
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame([([1, 5],), ([],), ([7, 2, 9],)], "arr array<int>")
    svc = GraphQLService(Dataset(df))
    doc = "{ columns { arr { unnest { count min max } } } }"
    lone = "{ columns { arr { unnest { count } } } }"
    svc.execute(doc)
    data, jobs = _jobs(spark, lambda: svc.execute(doc))
    _, lone_jobs = _jobs(spark, lambda: svc.execute(lone))
    assert jobs == lone_jobs
    assert data["columns"]["arr"]["unnest"] == {"count": 5, "min": 1, "max": 9}


def test_unparsable_cast_sibling_keeps_node_batched(spark):
    """A ``column(cast:)`` whose type does not parse fails its own field;
    its siblings run the jobs of the node without it."""
    from graphique_spark import Dataset
    from graphique_spark.service import GraphQLService

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "n long, s string")
    svc = GraphQLService(Dataset(df))
    leaves = "count columns { n { min max sum } s { max } }"
    doc = f'{{ {leaves} bad: column(name: "s", cast: "nope") {{ max }} }}'
    svc.run(doc)
    out, jobs = _jobs(spark, lambda: svc.run(doc))
    alone, alone_jobs = _jobs(spark, lambda: svc.execute(f"{{ {leaves} }}"))
    assert jobs == alone_jobs
    assert [e["path"] for e in out["errors"]] == [["bad"]]
    assert out["data"].pop("bad") is None
    assert out["data"] == alone


def test_leaf_durations_cover_their_job(service):
    """A leaf's resolver duration runs until its node's job has answered
    it, so each leaf of a one-job node takes at least the job's time."""
    leaves = (
        'columns { l_linestatus { values } } n: column(name: "n") { values } '
        'q: column(name: "q") { values }'
    )
    out = service.run(_GROUP_VALUES.format(leaves=leaves), metrics=True)
    execution = out["extensions"]["metrics"]["execution"]
    [batch] = execution["batches"]
    job = _seconds(batch["duration"])
    assert batch["leaves"] == 3 and job > 0
    node = batch["path"]
    durations = {
        tuple(r["path"][len(node):]): _seconds(r["duration"])
        for r in execution["resolvers"]
        if r["path"][-1] == "values"
    }
    assert set(durations) == {("columns", "l_linestatus", "values"), ("n", "values"), ("q", "values")}
    assert all(d >= job for d in durations.values())


def test_execute_inside_running_event_loop(service, spark):
    """``execute`` called from a thread that runs an event loop (a notebook
    cell) answers as it does elsewhere, and its jobs run in the caller's
    job group."""
    import asyncio

    doc = """{ lineitem { filter(l_returnflag: {eq: ["R"]}) {
        count columns { l_quantity { sum } } } } }"""

    async def cell():
        return service.execute(doc)

    want, jobs = _jobs(spark, lambda: service.execute(doc))
    got, loop_jobs = _jobs(spark, lambda: asyncio.run(cell()))
    assert got == want and loop_jobs == jobs > 0
