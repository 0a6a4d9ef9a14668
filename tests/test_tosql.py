"""``toSql`` fidelity: the rendered SQL must be *executable* Spark SQL that
reproduces the compiled DataFrame exactly (reference ``toSql``,
interface.py:109-115, returns runnable dialect SQL via ibis/SQLGlot —
exercised in reference tests/test_service.py). Every document here is
compiled twice: once through the GraphQL resolvers to a DataFrame, once by
``spark.sql`` over the rendered text, and the row sets must match."""

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def service(spark, tables):
    from graphique_spark.service import GraphQLService

    svc = GraphQLService(
        {name: tables[name] for name in ["orders", "customer", "nation", "events", "embeddings"]}
    )
    for name, ds in svc.roots.items():  # named roots run against temp views
        ds.df.createOrReplaceTempView(name)
    return svc


CHAIN_DOCS = [
    # filter -> group with aggregate + counts
    """{ orders { filter(o_orderstatus: {eq: ["F"]}) {
         group(by: ["o_orderpriority"], counts: "n",
               aggregate: {sum: [{name: "o_totalprice", alias: "rev"}]}) { count } } } }""",
    # project expression -> filter on computed column -> group
    """{ orders { project(columns: [{alias: "big",
           expr: {gt: [{name: "o_totalprice"}, {value: 150000}]}}]) {
         filter(big: {eq: [true]}) { group(by: ["o_orderstatus"], counts: "n") { count } } } } }""",
    # order + limit
    """{ orders { filter(o_totalprice: {gt: 100000}) {
         order(by: ["-o_totalprice", "o_orderkey"], limit: 7) { count } } } }""",
    # per-group top-k (order with over)
    """{ orders { order(by: ["-o_totalprice"], limit: 2, over: ["o_orderpriority"]) {
         group(by: ["o_orderpriority"], counts: "n") { count } } } }""",
    # first (rank filter with ties)
    """{ orders { first(by: ["-o_totalprice"], rank: 3, over: ["o_orderstatus"]) { count } } }""",
    # broadcast join -> group
    """{ orders { join(right: "customer", keys: ["o_custkey"], rkeys: ["c_custkey"],
                        broadcast: true) {
         group(by: ["c_mktsegment"], counts: "n") { count } } } }""",
    # USING-style join (same key names) via self-join of customer on nation
    """{ customer { join(right: "nation", keys: ["c_nationkey"], rkeys: ["n_nationkey"],
                          how: "left") {
         group(by: ["n_name"], counts: "n") { count } } } }""",
    # distinct with deterministic tiebreak + counts
    """{ orders { distinct(on: ["o_orderpriority"], orderBy: ["-o_totalprice", "o_orderkey"],
                           counts: "cnt") { count } } }""",
    # rollup
    """{ orders { rollup(by: ["o_orderstatus", "o_orderpriority"], counts: "n") { count } } }""",
    # cube
    """{ orders { cube(by: ["o_orderstatus"], counts: "n") { count } } }""",
    # cast -> global aggregate
    """{ orders { cast(schema: [{name: "o_totalprice", type: "bigint"}]) {
         group(aggregate: {sum: [{name: "o_totalprice", alias: "s"}],
                           mean: [{name: "o_totalprice", alias: "m"}]}) { count } } } }""",
    # fillNull / dropNull
    """{ orders { fillNull(value: 0, subset: ["o_totalprice"]) {
         dropNull(subset: ["o_orderdate"]) { group(counts: "n") { count } } } } }""",
    # union (self) + distinct flag
    """{ orders { union(tables: ["orders"], distinct: true) { group(counts: "n") { count } } } }""",
    # intersect / difference
    """{ orders { intersect(table: "orders") { group(counts: "n") { count } } } }""",
    """{ orders { difference(table: "orders") { group(counts: "n") { count } } } }""",
    # unnest with offset -> aggregate
    """{ embeddings { unnest(name: "embedding", offset: "pos") {
         group(aggregate: {sum: [{name: "embedding", alias: "s"}],
                           max: [{name: "pos", alias: "m"}]}) { count } } } }""",
    # window function in a project expression -> filter
    """{ orders { project(columns: [{alias: "rnk", expr: {call: {func: "rank",
           options: {over: ["o_orderpriority"], orderBy: ["-o_totalprice"]}}}}]) {
         filter(rnk: {le: 2}) { group(by: ["o_orderpriority"], counts: "n") { count } } } } }""",
    # ordered collect aggregates (array_sort default comparator strip)
    """{ orders { group(by: ["o_orderpriority"],
           aggregate: {first: [{name: "o_totalprice", alias: "fp", orderBy: "o_orderdate"}],
                       concat: [{name: "o_orderstatus", alias: "cc", orderBy: "-o_orderdate",
                                 sep: "|"}]}) { count } } }""",
    # first-class window input: lag with default + ntile
    """{ events { project(columns: [
           {alias: "prev_v", expr: {window: {lag: {name: "value"}, over: ["user_id"],
              by: ["ts"], default: 0}}},
           {alias: "quartile", expr: {window: {ntile: 4, over: ["event_type"],
              by: ["-value"]}}}]) {
         group(by: ["quartile"], counts: "n",
               aggregate: {sum: [{name: "prev_v", alias: "s"}]}) { count } } } }""",
    # pairwise window comparison (gt vs lagged value)
    """{ events { project(columns: [{alias: "rising", expr: {window: {
           gt: {name: "value"}, over: ["user_id"], by: ["ts"], default: false}}}]) {
         group(by: ["rising"], counts: "n") { count } } } }""",
    # runs: adjacency grouping with aggregates
    """{ events { runs(by: ["event_type"], orderBy: ["ts", "event_id"], counts: "n",
           aggregate: {min: [{name: "value", alias: "v"}]}) { count } } }""",
    # slice after order (offset + limit)
    """{ orders { order(by: ["o_orderkey"]) { slice(offset: 5, limit: 10) { count } } } }""",
    # typed filters combined with expression where
    """{ events { filter(event_type: {eq: ["click", "view"]}, value: {ge: 0.1},
           where: {ne: [{name: "user_id"}, {value: 7}]}) {
         group(by: ["event_type"], counts: "n") { count } } } }""",
    # argmax/argmin with per-agg where
    """{ events { group(by: ["user_id"],
           aggregate: {argmax: [{name: "value", key: "ts", alias: "latest"}],
                       count: [{name: "event_id", alias: "clicks",
                                where: {eq: [{name: "event_type"}, {value: "click"}]}}]}) {
         order(by: ["user_id"], limit: 10) { count } } } }""",
]


def _rows(df):
    return sorted(map(lambda r: tuple(map(str, r)), df.collect()))


@pytest.mark.parametrize("doc", CHAIN_DOCS, ids=range(len(CHAIN_DOCS)))
def test_roundtrip(spark, service, doc):
    from graphique_spark.service.translate import compile_dataset

    ds = compile_dataset(service, doc)
    sql = ds.to_sql()
    assert sql.startswith("SELECT"), f"expected rendered SQL, got fallback:\n{sql}"
    assert spark.sql(sql).columns == ds.df.columns
    assert _rows(spark.sql(sql)) == _rows(ds.df)


WINDOW_SHAPED = {
    "distinct_orderby_counts": lambda ds: ds.distinct(
        on=["o_orderpriority"], order_by=["-o_totalprice", "o_orderkey"], counts="cnt"
    ),
    "distinct_keep_last": lambda ds: ds.distinct(
        on=["o_orderstatus"], keep="last", order_by=["o_orderdate", "o_orderkey"]
    ),
    "distinct_keep_null": lambda ds: ds.distinct(on=["o_custkey"], keep=None),
    "distinct_all_columns_counts": lambda ds: ds.select("o_orderstatus", "o_orderpriority")
    .distinct(counts="n"),
    "first_global": lambda ds: ds.first(["-o_totalprice"], rank=3),
    "first_global_dense_two_keys": lambda ds: ds.first(
        ["o_orderstatus", "-o_orderpriority"], rank=2, dense=True
    ),
    "first_over": lambda ds: ds.first(["-o_totalprice"], rank=2, over=["o_orderstatus"]),
    "order_limit_over": lambda ds: ds.order(
        ["-o_totalprice", "o_orderkey"], limit=2, over=["o_orderpriority"]
    ),
    "take_rowid": lambda ds: ds.take([7, 3, 3, 12], rowid="o_orderkey"),
}


@pytest.mark.parametrize("name", list(WINDOW_SHAPED))
def test_window_shaped_ops_run_the_rendered_text(spark, name):
    """distinct, first, order(limit:, over:) and take run the SQL text that
    ``to_sql`` renders: over a parquet root, the executed frame and the
    rendered statement optimize to the same plan."""
    from graphique_spark.sources import read_parquet

    root = read_parquet(spark, f"{SF_DIR}/orders.parquet")
    # scan the root through its own rendered text: a DataFrameReader scan
    # carries reader options that the parquet.`path` scan lacks, so the two
    # relations never compare equal
    root.df = spark.sql(root.to_sql())
    ds = WINDOW_SHAPED[name](root)
    sql = ds.to_sql()
    assert sql.startswith("SELECT"), f"fallback:\n{sql}"
    rendered = spark.sql(sql)._jdf.queryExecution().optimizedPlan()
    assert ds.df._jdf.queryExecution().optimizedPlan().sameResult(rendered), sql
    assert spark.sql(sql).columns == ds.df.columns
    assert _rows(spark.sql(sql)) == _rows(ds.df)


def test_expressions_over_sql_text_ops_render(spark):
    """A frame run from SQL text carries its last subquery's alias as a
    column qualifier; expressions rendered over it must not print that
    qualifier, since the rendered block reading it has another alias."""
    from pyspark.sql import functions as F

    from graphique_spark.inputs import Agg
    from graphique_spark.sources import read_parquet

    ds = read_parquet(spark, f"{SF_DIR}/orders.parquet")
    chains = [
        ds.first(["-o_totalprice"], rank=20, over=["o_orderpriority"]).group(
            ["o_orderpriority"], aggregate=[Agg("sum", "o_totalprice", alias="s")]
        ),
        ds.distinct(on=["o_custkey"], keep=None).filter(where=F.col("o_totalprice") > 1000),
        ds.take([3, 1], rowid="o_orderkey").project({"z": F.col("o_totalprice") * 2}),
        ds.sql("SELECT * FROM self s WHERE o_orderkey < 100").filter(
            where=F.col("o_totalprice") > 1000
        ),
    ]
    for out in chains:
        sql = out.to_sql()
        assert sql.startswith("SELECT"), f"fallback:\n{sql}"
        assert _rows(spark.sql(sql)) == _rows(out.df)


@pytest.mark.parametrize("how", ["any", "all"])
def test_dropnull_nan_renders_like_na_drop(spark, how):
    """``na.drop`` counts NaN as null in float and double columns; the
    rendered WHERE must drop the same rows."""
    from graphique_spark.sources import roots

    df = spark.createDataFrame(
        [(1, float("nan"), None), (2, None, None), (3, 1.0, 7), (4, float("nan"), 5)],
        "id int, x double, y int",
    )
    df.createOrReplaceTempView("t_dropnull_nan")
    ds = roots({"t_dropnull_nan": df})["t_dropnull_nan"].drop_null(["x", "y"], how=how)
    sql = ds.to_sql()
    assert sql.startswith("SELECT"), f"fallback:\n{sql}"
    kept = sorted(r["id"] for r in ds.df.collect())
    assert kept == ([3] if how == "any" else [3, 4])
    assert sorted(r["id"] for r in spark.sql(sql).collect()) == kept


def test_service_tosql_field_is_runnable(spark, service):
    data = service.execute(
        """{ orders { filter(o_orderstatus: {eq: ["F"]}) {
              group(by: ["o_orderpriority"], counts: "n") { toSql } } } }"""
    )
    sql = data["orders"]["filter"]["group"]["toSql"]
    assert sql.startswith("SELECT")
    from graphique_spark.service.translate import compile_dataset

    direct = compile_dataset(
        service,
        """{ orders { filter(o_orderstatus: {eq: ["F"]}) {
              group(by: ["o_orderpriority"], counts: "n") { count } } } }""",
    )
    assert _rows(spark.sql(sql)) == _rows(direct.df)


def test_parquet_root_renders_standalone(spark):
    """read_parquet roots render as parquet.`path` scans — runnable with no
    registered views at all."""
    from graphique_spark.sources import read_parquet

    ds = read_parquet(spark, f"{SF_DIR}/nation.parquet").filter(n_regionkey={"eq": [1]})
    sql = ds.to_sql()
    assert "parquet.`" in sql
    assert _rows(spark.sql(sql)) == _rows(ds.df)


def test_startup_projection_rename_renders(spark):
    from graphique_spark.sources import read_parquet

    ds = read_parquet(spark, f"{SF_DIR}/nation.parquet", columns={"key": "n_nationkey", "name": "n_name"})
    sql = ds.to_sql()
    assert spark.sql(sql).columns == ["key", "name"]
    assert _rows(spark.sql(sql)) == _rows(ds.df)


def test_unrenderable_falls_back_to_plan_dump(spark, service):
    """Chains through an operator with no SQL equivalent (takeFrom against
    a synthesized scan-order row index) fall back to the optimized-plan
    dump instead of rendering wrong SQL."""
    from graphique_spark.service.translate import compile_dataset

    ds = compile_dataset(
        service,
        """{ orders { takeFrom(field: "o_custkey", source: "customer") { count } } }""",
    )
    sql = ds.to_sql()
    assert not sql.startswith("SELECT")  # plan dump, not SQL text


def test_asof_join_renders_union_window_sql(spark, service):
    """asofJoin renders as the union+last-window SQL composition and the
    rendered text reproduces the frame, with keys, tolerance, and both
    directions (r12: previously a documented fallback)."""
    from graphique_spark.service.translate import compile_dataset

    for doc in [
        """{ events { asofJoin(right: "events", on: "ts", keys: ["user_id"]) { count } } }""",
        """{ events { asofJoin(right: "events", on: "ts", keys: ["user_id"],
             direction: "forward") { count } } }""",
        """{ events { asofJoin(right: "events", on: "ts", keys: ["user_id"],
             toleranceIso: "PT30M") { count } } }""",
    ]:
        ds = compile_dataset(service, doc)
        sql = ds.to_sql()
        assert sql.startswith("SELECT"), f"fallback for {doc}:\n{sql}"
        assert spark.sql(sql).columns == ds.df.columns
        assert _rows(spark.sql(sql)) == _rows(ds.df)


def test_nondeterministic_distinct_falls_back(spark, service):
    """distinct with an arbitrary tiebreak (no orderBy) has no deterministic
    SQL equivalent and must not render."""
    from graphique_spark.service.translate import compile_dataset

    ds = compile_dataset(
        service, """{ orders { distinct(on: ["o_orderpriority"]) { count } } }"""
    )
    assert not ds.to_sql().startswith("SELECT")


def test_sql_escape_hatch_renders_as_cte(spark, tables):
    from graphique_spark.service import GraphQLService

    svc = GraphQLService({"orders": tables["orders"]}, allow_sql=True)
    svc.roots["orders"].df.createOrReplaceTempView("orders")
    from graphique_spark.service.translate import compile_dataset

    ds = compile_dataset(
        svc,
        """{ orders { sql(query: "SELECT o_orderstatus, count(1) AS n FROM self GROUP BY 1") {
              order(by: ["o_orderstatus"]) { count } } } }""",
    )
    sql = ds.to_sql()
    assert sql.startswith("SELECT")
    assert _rows(spark.sql(sql)) == _rows(ds.df)


def test_sql_query_with_its_own_with_renders_runnable(spark):
    """A query that opens with its own WITH (and ends in a comment) runs
    inside the CTE that binds ``self``, and ``to_sql`` renders that text."""
    from graphique_spark.sources import read_parquet

    nation = read_parquet(spark, f"{SF_DIR}/nation.parquet")
    ds = nation.sql(
        "WITH x AS (SELECT n_regionkey, n_name FROM self WHERE n_nationkey < 20) "
        "SELECT n_regionkey, count(1) AS n FROM x GROUP BY n_regionkey -- per region"
    )
    sql = ds.to_sql()
    assert sql.startswith("SELECT")
    assert _rows(spark.sql(sql)) == _rows(ds.df)
    assert not spark.catalog.tableExists("self")
    # a statement's trailing semicolon stays outside the parenthesized query
    assert nation.sql("SELECT * FROM self;").df.count() == 25


# --- randomized chain fuzzer -------------------------------------------------
# Random operator chains over the Dataset API itself (not GraphQL): any
# rendered chain must re-execute identically. Non-terminal ops keep the
# orders schema intact; an optional terminal reshapes it.

from hypothesis import given as _given, settings as _settings, strategies as _st
from pyspark.sql import functions as _F


def _mk_nonterminal(i):
    return [
        lambda ds: ds.filter(where=_F.col("o_totalprice") > 50000),
        lambda ds: ds.filter(o_orderstatus={"eq": ["F", "O"]}),
        lambda ds: ds.project({f"b{i}": _F.col("o_orderkey") % 7}),
        lambda ds: ds.project(
            {f"w{i}": _F.sum("o_totalprice").over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("o_orderpriority").orderBy("o_orderkey")
                .rowsBetween(-2, 0)
            )}
        ),
        lambda ds: ds.cast({"o_totalprice": "decimal(18,2)"}),
        lambda ds: ds.fill_null(0, subset=["o_custkey"]),
        lambda ds: ds.drop_null(subset=["o_orderdate"]),
        lambda ds: ds.order(["-o_totalprice", "o_orderkey"], limit=50),
        lambda ds: ds.first(["-o_totalprice"], rank=20, over=["o_orderpriority"]),
    ][i]


def _mk_terminal(i):
    from graphique_spark.inputs import Agg

    return [
        None,
        lambda ds: ds.group(
            ["o_orderpriority"],
            aggregate=[Agg("sum", "o_totalprice", alias="s"),
                       Agg("quantile", "o_totalprice", alias="q", q=0.5)],
            counts="n",
        ),
        lambda ds: ds.distinct(
            on=["o_orderpriority"], order_by=["-o_totalprice", "o_orderkey"], counts="c"
        ),
        lambda ds: ds.rollup(["o_orderstatus", "o_orderpriority"], counts="n"),
        lambda ds: ds.group(
            [], aggregate=[Agg("argmax", "o_orderkey", alias="am", key="o_totalprice"),
                           Agg("count", "o_orderkey", alias="k",
                               where=_F.col("o_orderstatus") == "F")],
        ),
    ][i]


from conftest import fuzz_examples as _fuzz_examples


@_settings(max_examples=_fuzz_examples(25, 6), deadline=None)
@_given(
    chain=_st.lists(_st.integers(0, 8), min_size=1, max_size=4),
    terminal=_st.integers(0, 4),
)
def test_fuzz_random_chain_roundtrip(spark, chain, terminal):
    from graphique_spark.sources import read_parquet

    ds = read_parquet(spark, f"{SF_DIR}/orders.parquet")
    for i in chain:
        ds = _mk_nonterminal(i)(ds)
    fin = _mk_terminal(terminal)
    if fin is not None:
        ds = fin(ds)
    sql = ds.to_sql()
    assert sql.startswith("SELECT"), f"fallback for chain {chain}/{terminal}:\n{sql}"
    assert spark.sql(sql).columns == ds.df.columns
    assert _rows(spark.sql(sql)) == _rows(ds.df)


# Expression-grammar rendering fuzz: reuse the differential suite's random
# GraphQL expression trees (arithmetic/boolean/comparison/coalesce/ifelse/
# isin over nullable ints and strings); every compiled Column's rendered
# SQL must re-evaluate to identical values. A silent mis-rendering here
# would hand users WRONG runnable SQL — worse than a fallback.
from test_differential import any_expr as _any_expr, rows_strategy as _rows_strategy


@_settings(max_examples=_fuzz_examples(30, 8), deadline=None)
@_given(rows=_rows_strategy, trees=_st.lists(_any_expr, min_size=1, max_size=4))
def test_fuzz_expression_sql_rendering(spark, rows, trees):
    from graphique_spark import sqlrender
    from graphique_spark.service.expressions import compile_expression

    data = [(i, a, b, s) for i, (a, b, s) in enumerate(rows)]
    sdf = spark.createDataFrame(data, "id int, a int, b int, s string")
    cols = [compile_expression(t).alias(f"e{i}") for i, t in enumerate(trees)]
    expected = sorted(map(tuple, sdf.select("id", *cols).collect()))
    sdf.createOrReplaceTempView("__fuzz_expr")
    items = ", ".join(
        f"{sqlrender.expr_sql(sdf, c)} AS e{i}" for i, c in enumerate(cols)
    )
    got = sorted(map(tuple, spark.sql(f"SELECT id, {items} FROM __fuzz_expr").collect()))
    assert got == expected, trees


def test_take_with_explicit_rowid_renders(spark):
    """take against a real rowid column is deterministic and renders as a
    VALUES inner join ordered by position (duplicates repeat rows);
    synthesized row indices depend on scan order and must fall back."""
    from graphique_spark.sources import read_parquet

    ds = read_parquet(spark, f"{SF_DIR}/orders.parquet")
    taken = ds.take([7, 3, 3, 12], rowid="o_orderkey")
    sql = taken.to_sql()
    assert sql.startswith("SELECT") and "VALUES" in sql
    got = [tuple(map(str, r)) for r in spark.sql(sql).collect()]
    want = [tuple(map(str, r)) for r in taken.df.collect()]
    assert got == want  # order-sensitive: requested order is the contract
    assert not ds.take([0, 1]).to_sql().startswith("SELECT")  # synthesized


def test_nested_struct_select_and_unpack_render(spark):
    from graphique_spark.sources import roots

    df = spark.createDataFrame(
        [(1, (10, "x")), (2, (20, "y"))], "k int, st struct<a:int,b:string>"
    )
    ds = roots({"t_nested": df})["t_nested"]
    df.createOrReplaceTempView("t_nested")
    sel = ds.select("k", "st.a")  # dotted string = nested access, not `st.a`
    assert _rows(spark.sql(sel.to_sql())) == _rows(sel.df)
    up = ds.unpack("st")
    assert spark.sql(up.to_sql()).columns == up.df.columns
    assert _rows(spark.sql(up.to_sql())) == _rows(up.df)


# -- ADVICE r11 pins: renderer edge cases must fall back (or render right),
# never emit silently-wrong SQL ------------------------------------------------


def test_star_select_falls_back(spark):
    """A star-expanding select item breaks 1:1 item/column alignment; the
    old zip silently truncated, producing broken SQL. Must fall back."""
    from graphique_spark.sources import roots

    df = spark.createDataFrame([(1, (10,))], "k int, st struct<a:int>")
    ds = roots({"t_star": df})["t_star"]
    # single-field struct: lengths would still match — the explicit star
    # guard, not the length check, has to catch it
    assert not ds.select("k", "st.*").to_sql().startswith("SELECT")
    assert not ds.select("*").to_sql().startswith("SELECT")


def test_internal_attr_named_column_renders_or_falls_back(spark):
    """A user column literally named _we0/_w1 must never be silently
    replaced by an extracted window expression."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphique_spark.sources import roots

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 3), (3, "b", 9)], "`_we0` int, g string, v int"
    )
    ds = roots({"t_we": df})["t_we"]
    df.createOrReplaceTempView("t_we")
    # no window extraction: the raw column name passes through untouched
    plain = ds.project({"double_we": F.col("_we0") * 2}).select("g", "double_we")
    sql = plain.to_sql()
    if sql.startswith("SELECT"):
        assert _rows(spark.sql(sql)) == _rows(plain.df)
    # window extraction over the colliding name: ambiguous — render only if
    # the results still match, otherwise it must have fallen back
    w = Window.partitionBy("g").orderBy("_we0")
    ranked = ds.project({"r": F.rank().over(w)}).select("g", "r")
    sql = ranked.to_sql()
    if sql.startswith("SELECT"):
        assert _rows(spark.sql(sql)) == _rows(ranked.df)


def test_escaped_quote_literal_in_lambda(spark):
    """Backslash-escaped quotes inside Catalyst string literals must not
    derail the lambda scanner (old code raised ValueError through toSql)."""
    from pyspark.sql import functions as F

    from graphique_spark import sqlrender
    from graphique_spark.sources import roots

    df = spark.createDataFrame([(["x", "y"],), (["z"],)], "arr array<string>")
    ds = roots({"t_esc": df})["t_esc"]
    df.createOrReplaceTempView("t_esc")
    col = F.transform("arr", lambda x: F.concat(x, F.lit("it's ( tricky")))
    out = ds.project({"tagged": col}).select("tagged")
    sql = out.to_sql()  # must not raise, whatever path it takes
    if sql.startswith("SELECT"):
        assert _rows(spark.sql(sql)) == _rows(out.df)
    # the renderer itself either renders correctly or raises Unrenderable
    try:
        rendered = sqlrender.expr_sql(df, col.alias("tagged"))
    except sqlrender.Unrenderable:
        rendered = None
    if rendered is not None:
        got = spark.sql(f"SELECT {rendered} AS tagged FROM t_esc")
        assert _rows(got) == _rows(df.select(col.alias("tagged")))


def test_empty_by_rollup_cube_render_as_global(spark, tables):
    """ROLLUP()/CUBE() with no keys is invalid SQL; the zero-key form is the
    grand total and must render as a global aggregate."""
    for maker in ("rollup", "cube"):
        ds = getattr(tables["orders"], maker)(by=[], counts="n")
        sql = ds.to_sql()
        assert sql.startswith("SELECT"), f"{maker} fell back:\n{sql}"
        assert "ROLLUP()" not in sql and "CUBE()" not in sql
        assert _rows(spark.sql(sql)) == _rows(ds.df)


def test_dotted_partition_keys_render(spark):
    """Dotted nested names used as window/distinct partition keys must
    render as nested access (col_ref), not one backticked identifier."""
    from graphique_spark.sources import roots

    df = spark.createDataFrame(
        [(1, (1, "x")), (2, (1, "y")), (3, (2, "z")), (4, (2, "w"))],
        "k int, st struct<g:int,t:string>",
    )
    ds = roots({"t_dotpart": df})["t_dotpart"]
    df.createOrReplaceTempView("t_dotpart")
    topk = ds.order(by=["-k"], limit=1, over=["st.g"])
    sql = topk.to_sql()
    assert sql.startswith("SELECT"), f"fallback:\n{sql}"
    assert _rows(spark.sql(sql)) == _rows(topk.df)
    dedup = ds.distinct(on=["st.g"], keep="first", order_by=["k"])
    sql = dedup.to_sql()
    assert sql.startswith("SELECT"), f"fallback:\n{sql}"
    assert _rows(spark.sql(sql)) == _rows(dedup.df)


TRICKY_LITERALS = [
    "it's", "a\\b", 'q"x', "two''quotes", "mix\\'ed", "%_like", "`tick`",
    "tab\there", "new\nline",
]


@pytest.mark.parametrize("lit", TRICKY_LITERALS, ids=range(len(TRICKY_LITERALS)))
def test_tricky_string_literals_render(spark, lit):
    """Catalyst literal renderings containing quotes/backslashes/control
    chars must either round-trip exactly through expr_sql or raise
    Unrenderable — never silently produce SQL that evaluates differently."""
    from pyspark.sql import functions as F

    from graphique_spark import sqlrender

    df = spark.createDataFrame([("x",), ("it's",), (None,)], "s string")
    df.createOrReplaceTempView("__tricky_lit")
    col = F.when(F.col("s") == lit, F.lit("hit")).otherwise(
        F.concat(F.coalesce(F.col("s"), F.lit("?")), F.lit(lit))
    )
    expected = _rows(df.select(col.alias("o")))
    try:
        rendered = sqlrender.expr_sql(df, col.alias("o"))
    except sqlrender.Unrenderable:
        return  # honest fallback is acceptable
    got = _rows(spark.sql(f"SELECT {rendered} AS o FROM __tricky_lit"))
    assert got == expected, f"literal {lit!r} mis-rendered as: {rendered}"


def test_asof_render_edges(spark):
    """asof toSql edges: right_on != on, right_by != by, payload-name
    collisions (suffixed), and duplicate right timestamps resolved by the
    deterministic greatest-payload tie-break."""
    from graphique_spark.sources import roots

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (2, 5, "d"), (1, None, "e")],
        "k int, t int, v string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r1"), (1, 10, "r2"), (1, 18, "r3"), (2, 14, "r4"), (3, 1, "r5"),
         (1, None, "r6")],
        "rk int, rt int, v string",
    )
    pair = roots({"t_asof_l": left, "t_asof_r": right})
    left.createOrReplaceTempView("t_asof_l")
    right.createOrReplaceTempView("t_asof_r")
    for kw in [
        dict(right_on="rt", by=["k"], right_by=["rk"]),
        dict(right_on="rt", by=["k"], right_by=["rk"], direction="forward"),
        dict(right_on="rt", by=["k"], right_by=["rk"], tolerance="3"),
        dict(right_on="rt"),  # keyless global as-of
    ]:
        ds = pair["t_asof_l"].asof_join(pair["t_asof_r"], on="t", **kw)
        sql = ds.to_sql()
        assert sql.startswith("SELECT"), f"fallback for {kw}:\n{sql}"
        assert spark.sql(sql).columns == ds.df.columns  # v collides -> v_r
        assert _rows(spark.sql(sql)) == _rows(ds.df), kw


def test_internal_attr_token_inside_string_literal(spark):
    """A string LITERAL spelling an internal window-attribute name (_we0)
    is data: substitution must not rewrite it (review r12: the literal-
    blind scan returned silently wrong SQL), and it must not trigger a
    spurious collision when a real _we0 column also exists."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from graphique_spark.sources import roots

    df = spark.createDataFrame(
        [(1, "g", 5), (2, "g", 3), (3, "h", 9)], "id int, g string, v int"
    )
    ds = roots({"t_lit_we": df})["t_lit_we"]
    df.createOrReplaceTempView("t_lit_we")
    w = Window.partitionBy("g").orderBy("id")
    tagged = ds.project(
        {"tag": F.when(F.col("v") > F.lag("v").over(w), F.lit("_we0")).otherwise(F.lit("y"))}
    ).select("id", "tag")
    sql = tagged.to_sql()
    assert sql.startswith("SELECT"), f"fallback:\n{sql}"
    assert _rows(spark.sql(sql)) == _rows(tagged.df)
    # literal '_we0' + a REAL column _we0, no window: renders untouched
    df2 = spark.createDataFrame([(1, "x")], "`_we0` int, s string")
    ds2 = roots({"t_lit_we2": df2})["t_lit_we2"]
    df2.createOrReplaceTempView("t_lit_we2")
    lit = ds2.project({"mark": F.concat(F.lit("_we0:"), F.col("s"))}).select("mark")
    sql = lit.to_sql()
    if sql.startswith("SELECT"):
        assert _rows(spark.sql(sql)) == _rows(lit.df)


def test_asof_range_strategy_month_tolerance_renders_matching_bound(spark):
    """A calendar-month tolerance bounds on the left side
    (l.on <= r.on + tol), which is not the same as r.on >= l.on - tol for
    month arithmetic: 2023-02-28 + 1 month is 2023-03-28, before
    2023-03-30, so the match is voided. The rendered SQL must reproduce
    the executed bound."""
    import datetime as dt

    from graphique_spark.sources import roots

    left = spark.createDataFrame(
        [(1, dt.datetime(2023, 3, 30))], "k int, t timestamp"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2023, 2, 28), 42.0)], "k int, rt timestamp, payload double"
    )
    pair = roots({"t_rng_l": left, "t_rng_r": right})
    left.createOrReplaceTempView("t_rng_l")
    right.createOrReplaceTempView("t_rng_r")
    ds = pair["t_rng_l"].asof_join(
        pair["t_rng_r"], on="t", right_on="rt", by=["k"],
        tolerance="INTERVAL 1 MONTH",
    )
    sql = ds.to_sql()
    assert sql.startswith("SELECT"), f"fallback:\n{sql}"
    assert _rows(spark.sql(sql)) == _rows(ds.df)
    assert ds.df.collect()[0]["payload"] is None
