"""The engine's query suite: every operator from SURVEY §2 exercised as a
(Spark query, DuckDB oracle SQL) pair over the driver's testdata tables.

Conventions that make Spark/DuckDB results hash-comparable:

* every computed/aggregate column is aliased identically on both sides;
* float aggregates are ``round()``-ed (fp summation order differs between
  engines; rounding removes the last-bit noise);
* DuckDB ``sum(INTEGER)`` returns HUGEINT — oracles cast to BIGINT to match
  Spark's long;
* timestamps are projected as dates or strings (timezone-neutral).

Each query function takes ``(spark, sf_dir)`` and returns a lazy DataFrame;
the matching oracle is ANSI-ish SQL DuckDB runs over the same parquet.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphique_spark.dataset import Dataset
from graphique_spark.inputs import Agg
from graphique_spark.session import local_frame, materialize
from graphique_spark.sources import NANO_COLUMNS, normalize_nanos

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def register(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return register


def table(spark: SparkSession, sf_dir: str, name: str) -> Dataset:
    """Root a Dataset at a driver testdata table (nanos-safe)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return Dataset(normalize_nanos(df, NANO_COLUMNS.get(name, ())))


def fround(col, digits: int = 2):
    """Engine-consistent rounding: ``floor(x*scale + 0.5)/scale``.

    Spark's ``round`` (BigDecimal HALF_UP on the shortest decimal repr) and
    DuckDB's ``round`` (binary) disagree on .xx5 boundaries; floor over the
    same IEEE doubles is bit-identical in both engines. Oracles use the
    matching ``floor((x) * scale + 0.5) / scale`` SQL form.
    """
    scale = float(10 ** digits)
    return F.floor(col * scale + F.lit(0.5)) / F.lit(scale)



# ---------------------------------------------------------------------------
# Projection / filtering / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@query(
    "filter_predicates",
    """
    SELECT l_returnflag, count(*) AS n
    FROM lineitem
    WHERE l_returnflag IN ('A', 'N') AND l_quantity >= 10 AND l_quantity <= 40
      AND l_linestatus <> 'X' AND l_discount > 0.01
    GROUP BY l_returnflag
    """,
)
def filter_predicates(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            l_returnflag={"eq": ["A", "N"]},
            l_quantity={"ge": 10, "le": 40},
            l_linestatus={"ne": ["X"]},
            l_discount={"gt": 0.01},
        )
        .group(by=["l_returnflag"], counts="n")
        .df
    )


@query(
    "project_expressions",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS size_class
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def project_expressions(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(l_orderkey={"lt": 100})
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.project(
            {
                "revenue": revenue,
                "charge": revenue * (1 + F.col("l_tax")),
                "size_class": F.when(F.col("l_quantity") > 25, "bulk").otherwise("small"),
            }
        )
        .select("l_orderkey", "l_linenumber", "revenue", "charge", "size_class")
        .df
    )


@query(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name) AS uname,
           lower(p_brand) AS lbrand,
           concat(upper(substr(p_type, 1, 1)), lower(substr(p_type, 2))) AS cap_type,
           length(p_name) AS name_len,
           contains(p_name, 'a') AS has_a,
           starts_with(p_type, 'S') AS s_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           replace(p_brand, '#', '-') AS dashed,
           reverse(p_brand) AS rbrand,
           split_part(p_type, ' ', 1) AS first_word
    FROM part WHERE p_partkey <= 200
    """,
)
def string_functions(spark, sf_dir):
    from graphique_spark.functions import strings as s

    part = table(spark, sf_dir, "part").filter(p_partkey={"le": 200})
    c = F.col
    return (
        part.project(
            {
                "uname": s.upper(c("p_name")),
                "lbrand": s.lower(c("p_brand")),
                "cap_type": s.capitalize(c("p_type")),
                "name_len": s.length(c("p_name")),
                "has_a": s.contains(c("p_name"), "a"),
                "s_type": s.startswith(c("p_type"), "S"),
                "padded": s.lpad(c("p_size").cast("string"), 4, "0"),
                "dashed": s.replace(c("p_brand"), "#", "-"),
                "rbrand": s.reverse(c("p_brand")),
                "first_word": s.split(c("p_type"), " ")[0],
            }
        )
        .select(
            "p_partkey", "uname", "lbrand", "cap_type", "name_len", "has_a",
            "s_type", "padded", "dashed", "rbrand", "first_word",
        )
        .df
    )


@query(
    "temporal_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           quarter(o_orderdate) AS qtr,
           dayofmonth(o_orderdate) AS dom,
           dayofyear(o_orderdate) AS doy,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) AS odate,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders WHERE o_orderkey <= 500
    """,
)
def temporal_functions(spark, sf_dir):
    from graphique_spark.functions import temporal as t

    orders = table(spark, sf_dir, "orders").filter(o_orderkey={"le": 500})
    c = F.col("o_orderdate")
    return (
        orders.project(
            {
                "yr": t.year(c),
                "mo": t.month(c),
                "qtr": t.quarter(c),
                "dom": t.day(c),
                "doy": t.day_of_year(c),
                "month_start": t.truncate(c, "month").cast("date"),
                "odate": t.date(c),
                "ym": t.strftime(c, "%Y-%m"),
            }
        )
        .select("o_orderkey", "yr", "mo", "qtr", "dom", "doy", "month_start", "odate", "ym")
        .df
    )


@query(
    "cast_and_null_handling",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INTEGER) AS qty_int,
           CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) AS qty_str,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_filled,
           (nullif(l_discount, 0.0) IS NULL) AS was_zero
    FROM lineitem WHERE l_orderkey < 200
    """,
)
def cast_and_null_handling(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").filter(l_orderkey={"lt": 200})
    nulled = F.nullif(F.col("l_discount"), F.lit(0.0))
    return (
        li.cast({"l_quantity": "int"})
        .project(
            {
                "qty_int": F.col("l_quantity"),
                "qty_str": F.col("l_quantity").cast("string"),
                "disc_filled": F.coalesce(nulled, F.lit(-1.0)),
                "was_zero": nulled.isNull(),
            }
        )
        .select("l_orderkey", "l_linenumber", "qty_int", "qty_str", "disc_filled", "was_zero")
        .df
    )


@query(
    "bucket_histogram",
    """
    SELECT CASE
             WHEN o_totalprice >= 0 AND o_totalprice < 50000 THEN 0
             WHEN o_totalprice >= 50000 AND o_totalprice < 100000 THEN 1
             WHEN o_totalprice >= 100000 AND o_totalprice < 200000 THEN 2
             WHEN o_totalprice >= 200000 AND o_totalprice <= 600000 THEN 3
           END AS bucket,
           count(*) AS n,
           floor(avg(o_totalprice) * 100 + 0.5) / 100 AS avg_price
    FROM orders GROUP BY 1
    """,
)
def bucket_histogram(spark, sf_dir):
    from graphique_spark.functions.numeric import bucket

    orders = table(spark, sf_dir, "orders")
    b = bucket(F.col("o_totalprice"), [0, 50000, 100000, 200000, 600000])
    return (
        orders.project({"bucket": b})
        .group(
            by=["bucket"],
            aggregate=[Agg("mean", "o_totalprice", alias="avg_price")],
            counts="n",
        )
        .project({"avg_price": fround(F.col("avg_price"), 2)})
        .select("bucket", "n", "avg_price")
        .df
    )


# ---------------------------------------------------------------------------
# Aggregation (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
           floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base_price,
           floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS sum_disc_price,
           floor(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) / 100 AS sum_charge,
           floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_qty,
           floor(avg(l_extendedprice) * 10000 + 0.5) / 10000 AS avg_price,
           floor(avg(l_discount) * 1000000 + 0.5) / 1000000 AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1, the flagship scan-filter-aggregate."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .project({"disc_price": disc_price, "charge": charge})
        .group(
            by=["l_returnflag", "l_linestatus"],
            counts="count_order",
            aggregate=[
                Agg("sum", "l_quantity", alias="sum_qty"),
                Agg("sum", "l_extendedprice", alias="sum_base_price"),
                Agg("sum", "disc_price", alias="sum_disc_price"),
                Agg("sum", "charge", alias="sum_charge"),
                Agg("mean", "l_quantity", alias="avg_qty"),
                Agg("mean", "l_extendedprice", alias="avg_price"),
                Agg("mean", "l_discount", alias="avg_disc"),
            ],
        )
        .project(
            {
                "sum_qty": fround(F.col("sum_qty"), 2),
                "sum_base_price": fround(F.col("sum_base_price"), 2),
                "sum_disc_price": fround(F.col("sum_disc_price"), 2),
                "sum_charge": fround(F.col("sum_charge"), 2),
                "avg_qty": fround(F.col("avg_qty"), 4),
                "avg_price": fround(F.col("avg_price"), 4),
                "avg_disc": fround(F.col("avg_disc"), 6),
            }
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "avg_disc",
            "count_order",
        )
        .df
    )


@query(
    "group_agg_basic",
    """
    SELECT l_returnflag,
           count(*) AS n,
           count(DISTINCT l_partkey) AS parts,
           CAST(sum(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_line,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           floor(avg(l_extendedprice) * 10000 + 0.5) / 10000 AS avg_price,
           floor(sum(l_extendedprice) FILTER (WHERE l_quantity > 25) * 100 + 0.5) / 100 AS big_rev
    FROM lineitem GROUP BY l_returnflag
    """,
)
def group_agg_basic(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cast({"l_linenumber": "bigint"})
        .group(
            by=["l_returnflag"],
            counts="n",
            aggregate=[
                Agg("nunique", "l_partkey", alias="parts"),
                Agg("sum", "l_linenumber", alias="sum_line"),
                Agg("min", "l_quantity", alias="min_qty"),
                Agg("max", "l_quantity", alias="max_qty"),
                Agg("mean", "l_extendedprice", alias="avg_price"),
                Agg("sum", "l_extendedprice", alias="big_rev", where=F.col("l_quantity") > 25),
            ],
        )
        .project(
            {
                "avg_price": fround(F.col("avg_price"), 4),
                "big_rev": fround(F.col("big_rev"), 2),
            }
        )
        .select("l_returnflag", "n", "parts", "sum_line", "min_qty", "max_qty", "avg_price", "big_rev")
        .df
    )


@query(
    "group_agg_stats",
    """
    SELECT o_orderpriority,
           floor(stddev_samp(o_totalprice) * 1000 + 0.5) / 1000 AS sd,
           floor(stddev_pop(o_totalprice) * 1000 + 0.5) / 1000 AS sd_pop,
           floor(var_samp(o_totalprice) * 10 + 0.5) / 10 AS vr,
           floor(var_pop(o_totalprice) * 10 + 0.5) / 10 AS vr_pop,
           floor(kurtosis(o_totalprice) * 1000000 + 0.5) / 1000000 AS kurt,
           bool_and(o_totalprice > 0) AS all_pos,
           bool_or(o_totalprice > 400000) AS any_big
    FROM orders GROUP BY o_orderpriority
    """,
)
def group_agg_stats(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.project(
            {"pos": F.col("o_totalprice") > 0, "big": F.col("o_totalprice") > 400000}
        )
        .group(
            by=["o_orderpriority"],
            aggregate=[
                Agg("std", "o_totalprice", alias="sd"),
                Agg("std", "o_totalprice", alias="sd_pop", how="pop"),
                Agg("var", "o_totalprice", alias="vr"),
                Agg("var", "o_totalprice", alias="vr_pop", how="pop"),
                Agg("kurtosis", "o_totalprice", alias="kurt"),
                Agg("all", "pos", alias="all_pos"),
                Agg("any", "big", alias="any_big"),
            ],
        )
        .project(
            {
                "sd": fround(F.col("sd"), 3),
                "sd_pop": fround(F.col("sd_pop"), 3),
                "vr": fround(F.col("vr"), 1),
                "vr_pop": fround(F.col("vr_pop"), 1),
                "kurt": fround(F.col("kurt"), 6),
            }
        )
        .select("o_orderpriority", "sd", "sd_pop", "vr", "vr_pop", "kurt", "all_pos", "any_big")
        .df
    )


@query(
    "group_argminmax",
    """
    SELECT o_orderpriority,
           arg_max(o_orderkey, o_totalprice) AS best_order,
           arg_min(o_orderkey, o_totalprice) AS worst_order,
           floor(max(o_totalprice) * 100 + 0.5) / 100 AS best_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def group_argminmax(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.group(
            by=["o_orderpriority"],
            aggregate=[
                Agg("argmax", "o_orderkey", alias="best_order", key="o_totalprice"),
                Agg("argmin", "o_orderkey", alias="worst_order", key="o_totalprice"),
                Agg("max", "o_totalprice", alias="best_price"),
            ],
        )
        .project({"best_price": fround(F.col("best_price"), 2)})
        .df
    )


@query(
    "group_collect_concat",
    """
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), ',') AS nations,
           string_agg(n_name, '|' ORDER BY n_name) AS nation_csv,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def group_collect_concat(spark, sf_dir):
    # The collect agg still runs (exercising the array path); the output is
    # array_join-ed because the driver's canonicalizer can't hash raw lists.
    nation = table(spark, sf_dir, "nation")
    return (
        nation.group(
            by=["n_regionkey"],
            counts="n",
            aggregate=[
                Agg("collect", "n_name", alias="nations", order_by="n_name"),
                Agg("concat", "n_name", alias="nation_csv", sep="|", order_by="n_name"),
            ],
        )
        .project({"nations": F.array_join(F.col("nations"), ",")})
        .select("n_regionkey", "nations", "nation_csv", "n")
        .df
    )


@query(
    "group_quantile_mode",
    """
    SELECT l_returnflag,
           floor(quantile_cont(l_quantity, 0.5) * 10000 + 0.5) / 10000 AS med_qty,
           floor(quantile_cont(l_extendedprice, 0.25) * 10000 + 0.5) / 10000 AS p25_price,
           floor(quantile_cont(l_extendedprice, 0.95) * 10000 + 0.5) / 10000 AS p95_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def group_quantile_mode(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.group(
            by=["l_returnflag"],
            aggregate=[
                Agg("quantile", "l_quantity", alias="med_qty", q=0.5),
                Agg("quantile", "l_extendedprice", alias="p25_price", q=0.25),
                Agg("quantile", "l_extendedprice", alias="p95_price", q=0.95),
            ],
        )
        .project(
            {
                "med_qty": fround(F.col("med_qty"), 4),
                "p25_price": fround(F.col("p25_price"), 4),
                "p95_price": fround(F.col("p95_price"), 4),
            }
        )
        .df
    )


@query(
    "distinct_dedup",
    """
    SELECT l_orderkey, l_linenumber, l_partkey FROM (
      SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def distinct_dedup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.distinct(on=["l_orderkey"], keep="first", order_by=["l_linenumber", "l_partkey"])
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .df
    )


# ---------------------------------------------------------------------------
# Windows / ordering (SURVEY §2.6-2.7)
# ---------------------------------------------------------------------------


@query(
    "window_rank",
    """
    SELECT o_orderkey, o_orderpriority,
           row_number() OVER w AS rn,
           rank() OVER w AS rk,
           dense_rank() OVER w AS drk,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY rn <= 100
    """,
)
def window_rank(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.project(
            {
                "rn": F.row_number().over(w),
                "rk": F.rank().over(w),
                "drk": F.dense_rank().over(w),
                "quartile": F.ntile(4).over(w),
            }
        )
        .filter(F.col("rn") <= 100)
        .select("o_orderkey", "o_orderpriority", "rn", "rk", "drk", "quartile")
        .df
    )


@query(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           o_totalprice - lag(o_totalprice) OVER w AS delta_prev,
           lead(o_totalprice, 1, 0.0) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.project(
            {
                "delta_prev": F.col("o_totalprice") - F.lag("o_totalprice").over(w),
                "next_price": F.lead("o_totalprice", 1, 0.0).over(w),
            }
        )
        .select("o_custkey", "o_orderkey", "delta_prev", "next_price")
        .df
    )


@query(
    "window_frames",
    """
    SELECT o_custkey, o_orderkey,
           floor(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS moving_sum,
           floor(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS running_sum,
           floor(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) * 100 + 0.5) / 100 AS centered_avg
    FROM orders
    """,
)
def window_frames(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        orders.project(
            {
                "moving_sum": fround(F.sum("o_totalprice").over(base.rowsBetween(-2, 0)), 2),
                "running_sum": fround(
                    F.sum("o_totalprice").over(base.rowsBetween(Window.unboundedPreceding, 0)), 2
                ),
                "centered_avg": fround(F.avg("o_totalprice").over(base.rowsBetween(-1, 1)), 2),
            }
        )
        .select("o_custkey", "o_orderkey", "moving_sum", "running_sum", "centered_avg")
        .df
    )


@query(
    "top_k_global",
    """
    SELECT o_orderkey, o_totalprice AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def top_k_global(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return (
        orders.order(by=["-o_totalprice", "o_orderkey"], limit=25)
        .project({"price": F.col("o_totalprice")})
        .select("o_orderkey", "price")
        .df
    )


@query(
    "first_rank_filter",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
             dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rk
      FROM lineitem
    ) WHERE rk <= 2
    """,
)
def first_rank_filter(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.first(by=["-l_quantity"], rank=2, dense=True, over=["l_returnflag"])
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .df
    )


@query(
    "slice_page",
    """
    SELECT o_orderkey, o_custkey FROM orders
    ORDER BY o_orderkey OFFSET 100 LIMIT 50
    """,
)
def slice_page(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return orders.order(by=["o_orderkey"]).slice(100, 50).select("o_orderkey", "o_custkey").df


# ---------------------------------------------------------------------------
# Joins / set ops (SURVEY §2.4, §2.8)
# ---------------------------------------------------------------------------


@query(
    "join_star_broadcast",
    """
    SELECT r_name, n_name, count(*) AS customers, floor(sum(c_acctbal) * 100 + 0.5) / 100 AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_star_broadcast(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        cust.join(nation, keys=["c_nationkey"], rkeys=["n_nationkey"], broadcast=True)
        .join(region, keys=["n_regionkey"], rkeys=["r_regionkey"], broadcast=True)
        .group(
            by=["r_name", "n_name"],
            counts="customers",
            aggregate=[Agg("sum", "c_acctbal", alias="total_bal")],
        )
        .project({"total_bal": fround(F.col("total_bal"), 2)})
        .select("r_name", "n_name", "customers", "total_bal")
        .df
    )


@query(
    "join_semi_anti",
    """
    WITH has_urgent AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT
      (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM has_urgent)) AS with_urgent,
      (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM has_urgent)) AS without_urgent
    """,
)
def join_semi_anti(spark, sf_dir):
    # one lazy plan (cross join of two single-row aggregates), not two
    # eager counts through the driver: both joins execute in a single job
    cust = table(spark, sf_dir, "customer")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(o_orderpriority={"eq": ["1-URGENT"]})
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    semi = cust.join(urgent, keys=["c_custkey"], how="semi").df.agg(
        F.count(F.lit(1)).alias("with_urgent")
    )
    anti = cust.join(urgent, keys=["c_custkey"], how="anti").df.agg(
        F.count(F.lit(1)).alias("without_urgent")
    )
    return semi.crossJoin(anti)


@query(
    "join_left_outer",
    """
    SELECT c_custkey, c_name, count(o_orderkey) AS orders_n,
           floor(coalesce(sum(o_totalprice), 0.0) * 100 + 0.5) / 100 AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark, sf_dir):
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, keys=["c_custkey"], rkeys=["o_custkey"], how="left")
        .group(
            by=["c_custkey", "c_name"],
            aggregate=[
                Agg("count", "o_orderkey", alias="orders_n"),
                Agg("sum", "o_totalprice", alias="spend"),
            ],
        )
        .project({"spend": fround(F.coalesce(F.col("spend"), F.lit(0.0)), 2)})
        .select("c_custkey", "c_name", "orders_n", "spend")
        .df
    )


@query(
    "cross_join_dims",
    """
    SELECT r_name, o_orderpriority FROM region
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    """,
)
def cross_join_dims(spark, sf_dir):
    region = table(spark, sf_dir, "region").select("r_name")
    priorities = table(spark, sf_dir, "orders").group(by=["o_orderpriority"])
    return region.cross_join(priorities).df


@query(
    "set_operations",
    """
    WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
         urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM big UNION SELECT * FROM urgent)
    UNION ALL
    SELECT 'intersect', count(*) FROM (SELECT * FROM big INTERSECT SELECT * FROM urgent)
    UNION ALL
    SELECT 'except', count(*) FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent)
    """,
)
def set_operations(spark, sf_dir):
    # one lazy plan: three labeled single-row aggregates unioned, so all
    # set operations execute in a single job with no driver-side counts
    orders = table(spark, sf_dir, "orders")
    big = orders.filter(o_totalprice={"gt": 300000}).select("o_custkey")
    urgent = orders.filter(o_orderpriority={"eq": ["1-URGENT"]}).select("o_custkey")
    branches = [
        ("union", big.union(urgent, distinct=True)),
        ("intersect", big.intersect(urgent)),
        ("except", big.difference(urgent)),
    ]
    counted = [
        ds.df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        for op, ds in branches
    ]
    out = counted[0]
    for frame in counted[1:]:
        out = out.unionByName(frame)
    return out


@query(
    "asof_join_events",
    """
    SELECT e.event_id, e.user_id, p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (
        SELECT user_id, ts, max(value) AS value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_join_events(spark, sf_dir):
    events = table(spark, sf_dir, "events")
    clicks = events.filter(event_type={"eq": ["click"]}).select("event_id", "user_id", "ts")
    purchases = (
        events.filter(event_type={"eq": ["purchase"]})
        .group(by=["user_id", "ts"], aggregate=[Agg("max", "value", alias="value")])
    )
    return (
        clicks.asof_join(purchases, on="ts", by=["user_id"])
        .select("event_id", "user_id", F.col("value").alias("last_purchase_value"))
        .df
    )


# ---------------------------------------------------------------------------
# Reshaping / runs (SURVEY §2.9, §2.5)
# ---------------------------------------------------------------------------


@query(
    "unnest_embeddings",
    """
    SELECT vec_id,
           count(*) AS dim,
           floor(sum(CAST(e AS DOUBLE)) * 1000 + 0.5) / 1000 AS total,
           max(CAST(e AS DOUBLE)) AS biggest
    FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings)
    GROUP BY vec_id
    """,
)
def unnest_embeddings(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.unnest("embedding")
        .project({"e": F.col("embedding").cast("double")})
        .group(
            by=["vec_id"],
            counts="dim",
            aggregate=[Agg("sum", "e", alias="total"), Agg("max", "e", alias="biggest")],
        )
        .project({"total": fround(F.col("total"), 3)})
        .select("vec_id", "dim", "total", "biggest")
        .df
    )


@query(
    "unpack_struct",
    """
    SELECT o_orderkey, o_custkey AS cust, o_totalprice AS price
    FROM orders WHERE o_orderkey <= 300
    """,
)
def unpack_struct(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").filter(o_orderkey={"le": 300})
    packed = orders.project(
        {
            "info": F.struct(
                F.col("o_custkey").alias("cust"), F.col("o_totalprice").alias("price")
            )
        }
    ).select("o_orderkey", "info")
    return packed.unpack("info").df


@query(
    "runs_adjacency",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN o_orderstatus IS DISTINCT FROM
                  lag(o_orderstatus) OVER (ORDER BY o_custkey, o_orderdate, o_orderkey)
                  OR o_custkey IS DISTINCT FROM
                  lag(o_custkey) OVER (ORDER BY o_custkey, o_orderdate, o_orderkey)
             THEN 1 ELSE 0 END AS chg
      FROM orders
    ), flagged AS (
      SELECT *, sum(chg) OVER (ORDER BY o_custkey, o_orderdate, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    )
    SELECT o_orderstatus, count(*) AS n_runs, CAST(sum(run_len) AS BIGINT) AS n_rows
    FROM (SELECT run_id, min(o_orderstatus) AS o_orderstatus, count(*) AS run_len
          FROM flagged GROUP BY run_id)
    GROUP BY o_orderstatus
    """,
)
def runs_adjacency(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    runs = orders.runs(
        by=["o_custkey", "o_orderstatus"],
        order_by=["o_custkey", "o_orderdate", "o_orderkey"],
        counts="run_len",
    )
    return (
        runs.group(
            by=["o_orderstatus"],
            counts="n_runs",
            aggregate=[Agg("sum", "run_len", alias="n_rows")],
        )
        .project({"n_rows": F.col("n_rows").cast("bigint")})
        .select("o_orderstatus", "n_runs", "n_rows")
        .df
    )


@query(
    "group_rollup",
    """
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
           floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS rev
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def group_rollup(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup(
            by=["l_returnflag", "l_linestatus"],
            counts="n",
            aggregate=[Agg("sum", "l_extendedprice", alias="rev")],
        )
        .project({"rev": fround(F.col("rev"), 2)})
        .select("l_returnflag", "l_linestatus", "n", "rev")
        .df
    )


@query(
    "group_cube",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def group_cube(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    return orders.cube(by=["o_orderstatus", "o_orderpriority"], counts="n").df


@query(
    "window_ntile_cume",
    """
    SELECT o_orderkey,
           ntile(4) OVER w AS tile,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile_cume(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.project(
            {
                "tile": F.ntile(4).over(w),
                "pct": fround(F.percent_rank().over(w), 6),
                "cd": fround(F.cume_dist().over(w), 6),
            }
        )
        .select("o_orderkey", "tile", "pct", "cd")
        .df
    )


@query(
    "graphql_pipeline",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS rev
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
    """,
)
def graphql_pipeline(spark, sf_dir):
    """GraphQL string -> lazy DataFrame via the generated schema's
    resolvers: the engine's GraphQL-to-SQL translation path end-to-end."""
    from graphique_spark.service import GraphQLService
    from graphique_spark.service.translate import compile_query

    orders = table(spark, sf_dir, "orders")
    svc = GraphQLService({"orders": orders, "customer": table(spark, sf_dir, "customer")})
    df = compile_query(
        svc,
        """{ orders { filter(o_orderstatus: {eq: ["F"]}) {
               group(by: ["o_orderpriority"], counts: "n",
                     aggregate: {sum: [{name: "o_totalprice", alias: "rev"}]}) {
                 count } } } }""",
    )
    return (
        Dataset(df)
        .project({"rev": fround(F.col("rev"), 2)})
        .select("o_orderpriority", "n", "rev")
        .df
    )


@query(
    "graphql_to_sql_roundtrip",
    """
    SELECT c_mktsegment,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS rev,
           CAST(count(*) AS BIGINT) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def graphql_to_sql_roundtrip(spark, sf_dir):
    """toSql fidelity gate (reference ``toSql``, interface.py:109-115,
    which returns *executable* dialect SQL): compile a GraphQL chain —
    filter -> broadcast join -> group -> project-round -> order — render
    it as Spark SQL text, and return ``spark.sql(rendered)``, so the
    driver's oracle check validates the rendered TEXT's semantics, not
    just the DataFrame chain. Parquet roots render as standalone
    ``parquet.`path``` scans; no views are registered."""
    from graphique_spark.service import GraphQLService
    from graphique_spark.service.translate import compile_dataset
    from graphique_spark.sources import read_parquet

    roots = {
        name: read_parquet(spark, f"{sf_dir}/{name}.parquet")
        for name in ("orders", "customer")
    }
    ds = compile_dataset(
        GraphQLService(roots),
        """{ orders { filter(o_orderstatus: {eq: ["F"]}) {
               join(right: "customer", keys: ["o_custkey"], rkeys: ["c_custkey"],
                    broadcast: true) {
                 group(by: ["c_mktsegment"], counts: "n",
                       aggregate: {sum: [{name: "o_totalprice", alias: "rev"}]}) {
                   project(columns: [{alias: "rev", expr:
                       {div: [{call: {func: "floor", args: [{add: [{mul: [
                            {name: "rev"}, {value: 100}]}, {value: 0.5}]}]}},
                        {value: 100}]}}]) {
                     order(by: ["c_mktsegment"]) { count } } } } } } }""",
    )
    rendered = ds.to_sql()
    assert rendered.startswith("SELECT"), "toSql fell back to a plan dump"
    return spark.sql(rendered)


@query(
    "column_leaf_aggregates",
    """
    SELECT CAST(count(o_totalprice) AS BIGINT) AS cnt,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS uniq,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           floor(sum(o_totalprice) + 0.5) AS total,
           floor(avg(o_totalprice) * 10000 + 0.5) / 10000 AS mean_v,
           floor(stddev_samp(o_totalprice) * 10000 + 0.5) / 10000 AS std_v,
           floor(quantile_cont(o_totalprice, 0.25) * 10000 + 0.5) / 10000 AS q25,
           floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000 AS q50,
           floor(quantile_cont(o_totalprice, 0.75) * 10000 + 0.5) / 10000 AS q75,
           min(o_orderpriority) AS p_lo,
           max(o_orderpriority) AS p_hi,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS p_uniq
    FROM orders
    """,
)
def column_leaf_aggregates(spark, sf_dir):
    """Typed per-column aggregate leaves through the *service* path
    (reference Column fields, models.py:70-191): a GraphQL selection of
    count/nunique/min/max/sum/mean/std/quantile on a numeric column and
    min/max/nunique on a string column, executed by the generated schema's
    resolvers (service/schema.py:266-316), re-shaped into one comparable
    row. Each leaf is a single Spark aggregate job — no driver-side column
    materialization."""
    import math

    from graphique_spark.service import GraphQLService

    svc = GraphQLService({"orders": table(spark, sf_dir, "orders")})
    data = svc.execute(
        """{ columns {
               o_totalprice { count nunique min max sum mean std
                              quantile(q: [0.25, 0.5, 0.75]) }
               o_orderpriority { min max nunique } } }"""
    )
    tp = data["columns"]["o_totalprice"]
    pri = data["columns"]["o_orderpriority"]

    def fr(value, digits):  # same floor(x*scale+0.5)/scale as the oracle
        scale = 10 ** digits
        return math.floor(value * scale + 0.5) / scale

    row = (
        tp["count"], tp["nunique"], tp["min"], tp["max"],
        # the global double sum is order-dependent to ~1e-3 absolute at this
        # magnitude (~2e9); integer rounding leaves a 500x noise margin
        # where cent rounding left ~5x
        fr(tp["sum"], 0), fr(tp["mean"], 4), fr(tp["std"], 4),
        fr(tp["quantile"][0], 4), fr(tp["quantile"][1], 4), fr(tp["quantile"][2], 4),
        pri["min"], pri["max"], pri["nunique"],
    )
    return local_frame(
        spark,
        [row],
        "cnt bigint, uniq bigint, lo double, hi double, total double, "
        "mean_v double, std_v double, q25 double, q50 double, q75 double, "
        "p_lo string, p_hi string, p_uniq bigint",
    )


@query(
    "asof_tolerance",
    """
    SELECT e.event_id,
           CASE WHEN e.ts - p.ts <= INTERVAL 30 MINUTE THEN p.value END AS recent_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (
        SELECT user_id, ts, max(value) AS value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_tolerance(spark, sf_dir):
    """As-of join with a look-back tolerance window: matches further than
    30 minutes back are nulled (left rows kept)."""
    events = table(spark, sf_dir, "events")
    clicks = events.filter(event_type={"eq": ["click"]}).select("event_id", "user_id", "ts")
    purchases = events.filter(event_type={"eq": ["purchase"]}).group(
        by=["user_id", "ts"], aggregate=[Agg("max", "value", alias="value")]
    )
    return (
        clicks.asof_join(
            purchases, on="ts", by=["user_id"], tolerance="INTERVAL 30 MINUTES"
        )
        .select("event_id", F.col("value").alias("recent_purchase"))
        .df
    )


@query(
    "take_positional",
    """
    WITH r AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders
    )
    SELECT o_orderkey, floor(o_totalprice * 100 + 0.5) / 100 AS price, rid
    FROM r WHERE rid IN (0, 500, 999, 1499)
    """,
)
def take_positional(spark, sf_dir):
    """Positional take: dense row index (two-phase, no global-sort task)
    over an ordered frame, then a broadcast semi-join on the index."""
    orders = table(spark, sf_dir, "orders")
    taken = (
        orders.order(["o_orderkey"])
        .with_row_index("rid")
        .take([0, 500, 999, 1499], rowid="rid")
    )
    return (
        taken.project({"price": fround(F.col("o_totalprice"), 2)})
        .select("o_orderkey", "price", "rid")
        .df
    )


@query(
    "fill_drop_null",
    """
    WITH aj AS (
      SELECT e.event_id,
             CASE WHEN e.ts - p.ts <= INTERVAL 30 MINUTE THEN p.value END AS v
      FROM (SELECT * FROM events WHERE event_type = 'click') e
      ASOF LEFT JOIN (
        SELECT user_id, ts, max(value) AS value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
      ) p ON e.user_id = p.user_id AND e.ts >= p.ts
    )
    SELECT count(*) AS n_all,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
           floor(sum(coalesce(v, -1.0)) * 100 + 0.5) / 100 AS filled_sum
    FROM aj
    """,
)
def fill_drop_null(spark, sf_dir):
    """fillNull over a null-bearing as-of result; dropNull checked by the
    n_all/n_missing arithmetic."""
    events = table(spark, sf_dir, "events")
    clicks = events.filter(event_type={"eq": ["click"]}).select("event_id", "user_id", "ts")
    purchases = events.filter(event_type={"eq": ["purchase"]}).group(
        by=["user_id", "ts"], aggregate=[Agg("max", "value", alias="value")]
    )
    asof = clicks.asof_join(
        purchases, on="ts", by=["user_id"], tolerance="INTERVAL 30 MINUTES"
    ).select("event_id", F.col("value").alias("v"))
    # presence is flagged BEFORE fill_null so one aggregate over the
    # filled frame answers n_all/n_present/filled_sum — the previous
    # two-aggregate cross join consumed the as-of subplan twice, running
    # the whole two-phase as-of pipeline (and its scans) once per side
    filled = asof.project(
        {"present": F.col("v").isNotNull().cast("long")}
    ).fill_null(-1.0, subset=["v"])
    return (
        filled.group(
            counts="n_all",
            aggregate=[
                Agg("sum", "present", alias="n_present"),
                Agg("sum", "v", alias="filled_sum"),
            ],
        )
        .project(
            {
                "n_missing": (F.col("n_all") - F.col("n_present")).cast("bigint"),
                "filled_sum": fround(F.col("filled_sum"), 2),
            }
        )
        .select("n_all", "n_missing", "filled_sum")
        .df
    )


@query(
    "quantile_multi",
    """
    WITH g AS (
      SELECT l_returnflag,
             [floor(quantile_cont(l_extendedprice, 0.1) * 10000 + 0.5) / 10000,
              floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000,
              floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000] AS deciles
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(qi.q AS DOUBLE) AS q, g.deciles[qi.i] AS value
    FROM g, (VALUES (1, 0.1), (2, 0.5), (3, 0.9)) AS qi(i, q)
    """,
)
def quantile_multi(spark, sf_dir):
    # Multi-quantile agg (array-valued) exploded to (flag, q, value) rows —
    # the driver's canonicalizer can't hash raw array columns.
    li = table(spark, sf_dir, "lineitem")
    qs = [0.1, 0.5, 0.9]
    grouped = li.group(
        by=["l_returnflag"],
        aggregate=[Agg("quantile", "l_extendedprice", alias="qv", q=qs)],
    ).df
    return grouped.select(
        "l_returnflag", F.posexplode(F.col("qv")).alias("pos", "value")
    ).select(
        "l_returnflag",
        F.element_at(F.array(*[F.lit(q) for q in qs]), F.col("pos") + 1).alias("q"),
        fround(F.col("value"), 4).alias("value"),
    )


@query(
    "take_from_index",
    """
    WITH c AS (
      SELECT *, row_number() OVER (ORDER BY c_custkey) - 1 AS rid FROM customer
    ),
    i AS (SELECT o_orderkey % 150 AS rid FROM orders)
    SELECT c_mktsegment, count(*) AS n
    FROM i JOIN c USING (rid) GROUP BY c_mktsegment
    """,
)
def take_from_index(spark, sf_dir):
    """takeFrom (reference models.py:215-221): an integer column used as
    row indices into another root — an equi-join against the source's
    dense row index (broadcast when the index side is small)."""
    cust = table(spark, sf_dir, "customer").order(["c_custkey"]).with_row_index("rid")
    orders = table(spark, sf_dir, "orders").project(
        {"idx": F.col("o_orderkey") % 150}
    )
    return (
        orders.take_from("idx", cust, rowid="rid")
        .group(by=["c_mktsegment"], counts="n")
        .df
    )


@query(
    "group_first_seen",
    """
    WITH o AS (SELECT *, row_number() OVER (ORDER BY o_orderkey) - 1 AS rn FROM orders)
    SELECT o_orderpriority, CAST(min(rn) AS BIGINT) AS seen, count(*) AS n
    FROM o GROUP BY o_orderpriority
    """,
)
def group_first_seen(spark, sf_dir):
    """group(order:) first-seen ordering (reference interface.py:239-243):
    each group records its first row number (two-phase zipWithIndex, no
    global sort) and groups come back sorted by it."""
    orders = table(spark, sf_dir, "orders").order(["o_orderkey"])
    return orders.group(by=["o_orderpriority"], counts="n", order="seen").df


@query(
    "window_pairwise",
    """
    SELECT l_orderkey, l_linenumber,
           coalesce(l_partkey != lag(l_partkey) OVER w, false) AS part_changed,
           CAST(coalesce(l_quantity - lag(l_quantity) OVER w, 0) AS DOUBLE) AS qty_delta
    FROM lineitem WHERE l_orderkey <= 100
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
    """,
)
def window_pairwise(spark, sf_dir):
    """First-class pairwise window ops (reference inputs.py:500-506):
    op(expr, lag(expr)) over the partition, null-filled with `default` —
    compiled through the service WindowInput, not hand-composed."""
    from graphique_spark.service.expressions import compile_expression

    li = table(spark, sf_dir, "lineitem").filter(l_orderkey={"le": 100})
    spec = {"over": ["l_orderkey"], "by": ["l_linenumber"]}
    chg = compile_expression({"window": {"ne": {"name": "l_partkey"}, **spec, "default": False}})
    delta = compile_expression({"window": {"sub": {"name": "l_quantity"}, **spec, "default": 0}})
    return li.df.select(
        "l_orderkey",
        "l_linenumber",
        chg.alias("part_changed"),
        delta.cast("double").alias("qty_delta"),
    )


# ---------------------------------------------------------------------------
# Sources / sinks / service plumbing (SURVEY §2.1, §2.12)
# ---------------------------------------------------------------------------


@query(
    "source_catalog",
    """
    SELECT o_orderpriority, count(*) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def source_catalog(spark, sf_dir):
    """Backend-table root (reference README ibis backends; service.py:24-31):
    the Dataset is rooted at a Spark catalog table instead of a file path —
    the JDBC/catalog analog of the reference's ibis backend support."""
    from graphique_spark import sources

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "suite_orders_catalog"
    )
    ds = sources.read_table(spark, "suite_orders_catalog")
    return (
        ds.filter(o_orderstatus={"eq": ["F"]})
        .group(
            by=["o_orderpriority"],
            counts="n",
            aggregate=[Agg("sum", "o_totalprice", alias="revenue")],
        )
        .project({"revenue": fround(F.col("revenue"), 2)})
        .df
    )


@query(
    "source_projection",
    """
    SELECT c_name AS name, c_acctbal AS balance
    FROM customer WHERE c_acctbal > 9900
    ORDER BY balance DESC, name LIMIT 20
    """,
)
def source_projection(spark, sf_dir):
    """Startup projection/rename (reference COLUMNS env, service.py:22-31):
    the root applies a select-and-rename mapping before any query runs."""
    from graphique_spark import sources

    ds = sources.read_parquet(
        spark,
        f"{sf_dir}/customer.parquet",
        columns={"name": "c_name", "balance": "c_acctbal"},
    )
    return ds.filter(balance={"gt": 9900}).order(["-balance", "name"], limit=20).df


@query(
    "sql_gate",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS disc_rev
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_gate(spark, sf_dir):
    """Raw-SQL escape hatch (reference interface.py:523-535 — deny-by-default
    in the GraphQL service, permission-gated; the Python caller holds the
    permission here). The current frame is exposed as view ``self``."""
    li = table(spark, sf_dir, "lineitem")
    return li.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
                 AS disc_rev
        FROM self WHERE l_shipdate <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """
    ).df


@query(
    "dataset_count_any",
    """
    SELECT (SELECT count(*) FROM orders) AS orders_rows,
           (SELECT count(*) FROM (SELECT 1 FROM orders
              WHERE o_orderpriority = '1-URGENT' LIMIT 1)) >= 1 AS has_urgent,
           (SELECT count(*) FROM (SELECT 1 FROM orders
              WHERE o_totalprice < 0 LIMIT 1)) >= 1 AS has_negative
    """,
)
def dataset_count_any(spark, sf_dir):
    """Dataset-level ``count`` and ``any(limit)`` early-exit existence check
    (reference interface.py:143-157): ``any`` never scans past ``limit``
    rows. Scalar leaves surfaced as a one-row frame."""
    orders = table(spark, sf_dir, "orders")
    n = orders.count()
    urgent = orders.filter(o_orderpriority={"eq": ["1-URGENT"]}).any()
    negative = orders.filter(F.col("o_totalprice") < 0).any()
    return local_frame(
        spark,
        [(n, urgent, negative)],
        "orders_rows bigint, has_urgent boolean, has_negative boolean",
    )


@query(
    "partition_roundtrip",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n,
           count(DISTINCT n_nationkey) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def partition_roundtrip(spark, sf_dir):
    """Hive-partitioned parquet sink + re-root (reference partition.py:29-77,
    the two-pass out-of-core CLI collapsed to one Spark shuffle): write
    nation partitioned by n_regionkey, re-read with hive discovery, group by
    the partition key — partition pruning applies to the re-rooted scan."""
    import os
    import tempfile

    from graphique_spark import sources

    dest = os.path.join(tempfile.gettempdir(), f"graphique_spark_partition_rt_{os.getpid()}")
    nation = table(spark, sf_dir, "nation")
    sources.write_partitioned(nation.df, dest, ["n_regionkey"])
    ds = sources.read_parquet(spark, dest)
    return (
        ds.group(
            by=["n_regionkey"],
            counts="n",
            aggregate=[Agg("nunique", "n_nationkey", alias="nations")],
        )
        .project({"n_regionkey": F.col("n_regionkey").cast("bigint")})
        .df
    )


@query(
    "order_partition_prune",
    """
    SELECT event_type FROM (
      SELECT event_type FROM events ORDER BY event_type LIMIT 100
    ) ORDER BY event_type
    """,
)
def order_partition_prune(spark, sf_dir):
    """Ordered partition-key fast path (reference core.py:81-88):
    order(by=partition_key, limit) on an untransformed partitioned root
    sorts the fragment inventory from footers and scans only the files
    covering `limit` rows. Asserts the scan is actually pruned."""
    import os
    import tempfile

    from graphique_spark import sources

    dest = os.path.join(tempfile.gettempdir(), f"graphique_spark_order_fp_{os.getpid()}")
    events = table(spark, sf_dir, "events")
    sources.write_partitioned(events.df, dest, ["event_type"])
    ds = sources.read_parquet(spark, dest)
    out = ds.order(by=["event_type"], limit=100)
    if not len(out.df.inputFiles()) < len(ds.df.inputFiles()):
        # not a bare assert: python -O would strip it and the file-prune
        # guarantee this query exists to pin would go unverified
        raise AssertionError("partition-key fast path did not prune files")
    return out.df.select("event_type")


@query(
    "first_partition_prune",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, n_name
    FROM nation
    WHERE n_regionkey = (SELECT min(n_regionkey) FROM nation)
    """,
)
def first_partition_prune(spark, sf_dir):
    """first(by=partition_key) fast path (reference core.py:90-99): only
    the fragments of qualifying key values are scanned."""
    import os
    import tempfile

    from graphique_spark import sources

    dest = os.path.join(tempfile.gettempdir(), f"graphique_spark_first_fp_{os.getpid()}")
    nation = table(spark, sf_dir, "nation")
    sources.write_partitioned(nation.df, dest, ["n_regionkey"])
    ds = sources.read_parquet(spark, dest)
    out = ds.first(by=["n_regionkey"], rank=1, dense=True)
    if not len(out.df.inputFiles()) < len(ds.df.inputFiles()):
        # not a bare assert: python -O would strip it and the file-prune
        # guarantee this query exists to pin would go unverified
        raise AssertionError("partition-key fast path did not prune files")
    return out.df.select(
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"), "n_name"
    )


@query(
    "partition_metadata_groups",
    """
    SELECT CAST(o_orderstatus AS VARCHAR) AS o_orderstatus, count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def partition_metadata_groups(spark, sf_dir):
    """Partition fast path (reference interface.py:233-234, core.py:55-63):
    group-by-partition-key with counts on an untransformed parquet root is
    answered from directory names + parquet footers — an Arrow-built
    LocalRelation (physically one LocalTableScan), zero data pages read."""
    import os
    import tempfile

    from graphique_spark import sources

    dest = os.path.join(tempfile.gettempdir(), f"graphique_spark_partition_meta_{os.getpid()}")
    orders = table(spark, sf_dir, "orders")
    sources.write_partitioned(orders.df, dest, ["o_orderstatus"])
    ds = sources.read_parquet(spark, dest)
    out = ds.group(by=["o_orderstatus"], counts="n")
    if "LocalTableScan" not in out.explain("simple"):  # metadata, not scan
        raise AssertionError("metadata group-by is not a LocalTableScan")
    return out.df


@query(
    "range_join_bands",
    """
    WITH bands AS (
      SELECT i AS band, i * 5000.0 AS lo, (i + 1) * 5000.0 - 0.01 AS hi
      FROM generate_series(0, 24) t(i)
    )
    SELECT b.band, count(*) AS n,
           floor(sum(l.l_extendedprice) * 100 + 0.5) / 100 AS total
    FROM lineitem l JOIN bands b
      ON l.l_extendedprice BETWEEN b.lo AND b.hi
    GROUP BY b.band
    """,
)
def range_join_bands(spark, sf_dir):
    """Point-in-interval join via bucketing (operators.rangejoin): price
    bands equi-join on the bucket key instead of a BroadcastNestedLoop
    BETWEEN join; results identical to the oracle's BETWEEN join."""
    from graphique_spark.operators.rangejoin import range_join

    li = table(spark, sf_dir, "lineitem").df.select("l_extendedprice")
    bands = spark.range(25).select(
        F.col("id").cast("int").alias("band"),
        (F.col("id") * 5000.0).alias("lo"),
        ((F.col("id") + 1) * 5000.0 - 0.01).alias("hi"),
    )
    joined = range_join(li, bands, "l_extendedprice", "lo", "hi", bucket_width=5000.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)) / 100).alias("total"),
    )


# ---------------------------------------------------------------------------
# Multi-join analytics at realistic TPC-H shape (SURVEY §2.4/§2.5 composed):
# Catalyst's join reordering + broadcast selection is the 100 TB story here —
# dims broadcast, the single big-table shuffle happens once, AQE re-plans
# the post-filter sizes at runtime.
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, odate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: filtered dim (customer segment) broadcast into the
    orders⋈lineitem shuffle join, aggregate, global top-10 via
    TakeOrderedAndProject — no full sort at any scale."""
    cut = F.lit("1998-06-01").cast("timestamp")
    cust = (
        table(spark, sf_dir, "customer")
        .filter(c_mktsegment={"eq": ["BUILDING"]})
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(orders.df["o_orderdate"] < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem")
    li = li.filter(li.df["l_shipdate"] > cut).project(
        {"revenue": F.col("l_extendedprice") * (1 - F.col("l_discount"))}
    ).select("l_orderkey", "revenue")
    return (
        li.join(orders, keys=["l_orderkey"], rkeys=["o_orderkey"])
        .join(cust, keys=["o_custkey"], rkeys=["c_custkey"], broadcast=True)
        .project({"odate": F.to_date("o_orderdate").cast("string")})
        .group(
            by=["l_orderkey", "odate", "o_orderpriority"],
            aggregate=[Agg("sum", "revenue", alias="revenue")],
        )
        .project({"revenue": fround(F.col("revenue"), 2)})
        .order(by=["-revenue", "l_orderkey"], limit=10)
        .select("l_orderkey", "revenue", "odate", "o_orderpriority")
        .df
    )


@query(
    "q5_region_volume",
    """
    SELECT n_name,
           floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_region_volume(spark, sf_dir):
    """TPC-H Q5 shape: six-table join where every dimension side
    (supplier, nation, region) broadcasts; only lineitem⋈orders and
    the customer probe shuffle. The c_nationkey = s_nationkey local
    predicate rides the supplier join keys."""
    cut_lo = F.lit("1996-01-01").cast("timestamp")
    cut_hi = F.lit("1997-01-01").cast("timestamp")
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(
        (orders.df["o_orderdate"] >= cut_lo) & (orders.df["o_orderdate"] < cut_hi)
    ).select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = table(spark, sf_dir, "lineitem").project(
        {"revenue": F.col("l_extendedprice") * (1 - F.col("l_discount"))}
    ).select("l_orderkey", "l_suppkey", "revenue")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(r_name={"eq": ["ASIA"]})
    return (
        li.join(orders, keys=["l_orderkey"], rkeys=["o_orderkey"])
        .join(cust, keys=["o_custkey"], rkeys=["c_custkey"])
        .join(
            supp,
            keys=["l_suppkey", "c_nationkey"],
            rkeys=["s_suppkey", "s_nationkey"],
            broadcast=True,
        )
        .join(nation, keys=["s_nationkey"], rkeys=["n_nationkey"], broadcast=True)
        .join(region, keys=["n_regionkey"], rkeys=["r_regionkey"], broadcast=True)
        .group(by=["n_name"], aggregate=[Agg("sum", "revenue", alias="revenue")])
        .project({"revenue": fround(F.col("revenue"), 2)})
        .select("n_name", "revenue")
        .df
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): the quarter filter prunes
    orders before its shuffle join with lineitem; customer joins once on the
    already-aggregated-down stream; nation broadcasts. Global top-20 is
    TakeOrderedAndProject — never a full sort."""
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(
        (orders.df["o_orderdate"] >= lo) & (orders.df["o_orderdate"] < hi)
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(l_returnflag={"eq": ["R"]})
    li = li.project(
        {"revenue": F.col("l_extendedprice") * (1 - F.col("l_discount"))}
    ).select("l_orderkey", "revenue")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, keys=["l_orderkey"], rkeys=["o_orderkey"])
        .join(cust, keys=["o_custkey"], rkeys=["c_custkey"])
        .join(nation, keys=["c_nationkey"], rkeys=["n_nationkey"], broadcast=True)
        .group(
            by=["c_custkey", "c_name", "c_acctbal", "n_name"],
            aggregate=[Agg("sum", "revenue", alias="revenue")],
        )
        .project({"revenue": fround(F.col("revenue"), 2)})
        .order(by=["-revenue", "c_custkey"], limit=20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .df
    )


@query(
    "q12_shipping_delay",
    """
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                THEN 'late' ELSE 'on_time' END AS delay_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY delay_class ORDER BY delay_class
    """,
)
def q12_shipping_delay(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority), adapted to this dataset's
    columns: classify lines by ship-vs-order-date lag, count urgent/other
    priorities per class. One shuffle join (both sides filtered first), one
    two-row aggregate — conditional sums stay inside the partial agg."""
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(
        (orders.df["o_orderdate"] >= F.lit("1997-01-01").cast("timestamp"))
        & (orders.df["o_orderdate"] < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    joined = li.join(orders, keys=["l_orderkey"], rkeys=["o_orderkey"]).df
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.withColumn(
            "delay_class",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                "late",
            ).otherwise("on_time"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


@query(
    "q14_promo_revenue",
    """
    SELECT floor(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)) * 10000 + 0.5)
           / 10000 AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): one month of lineitem probes a
    broadcast part dimension; the promo/total ratio is a single global
    aggregate — map-side partials, one row out, no shuffle of part."""
    li = table(spark, sf_dir, "lineitem")
    li = li.filter(
        (li.df["l_shipdate"] >= F.lit("1997-03-01").cast("timestamp"))
        & (li.df["l_shipdate"] < F.lit("1997-04-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(part, keys=["l_partkey"], rkeys=["p_partkey"], broadcast=True).df
    return joined.agg(
        fround(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(0.0))
            / F.sum(revenue),
            4,
        ).alias("promo_pct")
    )


@query(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
           o_totalprice,
           floor(sum(l_quantity) * 100 + 0.5) / 100 AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    GROUP BY c_custkey, o_orderkey, odate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): the HAVING subquery aggregates
    lineitem down to qualifying orderkeys first, then semi-joins — the big
    table is scanned once for the aggregate and once for the detail, and
    AQE turns the tiny qualifying-keys side into a broadcast semi-join."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.df.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    detail = li.df.join(big, "l_orderkey", "left_semi")
    return (
        Dataset(detail)
        .join(orders, keys=["l_orderkey"], rkeys=["o_orderkey"])
        .join(cust, keys=["o_custkey"], rkeys=["c_custkey"])
        .project({"odate": F.to_date("o_orderdate").cast("string")})
        .group(
            by=["c_custkey", "o_orderkey", "odate", "o_totalprice"],
            aggregate=[Agg("sum", "l_quantity", alias="total_qty")],
        )
        .project({"total_qty": fround(F.col("total_qty"), 2)})
        .order(by=["-o_totalprice", "o_orderkey"], limit=20)
        .select("c_custkey", "o_orderkey", "odate", "o_totalprice", "total_qty")
        .df
    )


@query(
    "q19_disjunctive_filter",
    """
    SELECT floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_disjunctive_filter(spark, sf_dir):
    """TPC-H Q19 (discounted revenue): disjunction of brand/size/quantity
    conjuncts. The part-only arms of the OR are pushed below the broadcast
    join (Catalyst extracts `p_brand IN (...)` and the size hull as a
    derived filter), so the dimension shrinks before the probe."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(part, keys=["l_partkey"], rkeys=["p_partkey"], broadcast=True).df
    arm = lambda brand, s_lo, s_hi, q_lo, q_hi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & (F.col("l_quantity") >= q_lo)
        & (F.col("l_quantity") <= q_hi)
    )
    return joined.filter(
        arm("Brand#1", 1, 15, 1, 21)
        | arm("Brand#13", 10, 30, 10, 30)
        | arm("Brand#20", 20, 50, 20, 40)
    ).agg(
        fround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@query(
    "pivot_event_counts",
    """
    SELECT user_id % 10 AS cohort,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY cohort
    """,
)
def pivot_event_counts(spark, sf_dir):
    """Pivot (long→wide contingency table). Explicit value list keeps the
    plan a single-pass hash aggregate — no extra distinct-values job, no
    second shuffle; missing cells coalesce to 0 like SQL FILTER counts."""
    kinds = ["click", "error", "purchase", "signup", "view"]
    events = table(spark, sf_dir, "events").df
    wide = (
        events.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", kinds)
        .count()
    )
    return wide.select(
        "cohort", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@query(
    "window_time_range",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           floor(sum(value) OVER w * 100 + 0.5) / 100 AS sum_1h
    FROM events
    WHERE user_id < 40
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range(spark, sf_dir):
    """RANGE frame over event time (trailing 1 h per user) — the frame key
    is epoch microseconds on both engines so peer/boundary semantics are
    bit-identical. Partitioned by user: no global window, scales with the
    key count."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events").filter(user_id={"lt": 40}).df
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.floor(F.sum("value").over(w) * 100 + F.lit(0.5)) / 100).alias("sum_1h"),
    )


@query(
    "incremental_agg",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS spend,
           floor(avg(o_totalprice) * 100 + 0.5) / 100 AS mean_spend,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def incremental_agg(spark, sf_dir):
    """Incremental aggregation by mergeable partial states (the no-full-
    recompute pattern: daily deltas fold into per-key state linear in key
    count, independent of history size). Three disjoint 'days' of orders
    are aggregated separately, merged hierarchically, finalized — and must
    equal the direct aggregate over everything."""
    from graphique_spark.operators.incremental import (
        aggregate_state, finalize_state, merge_states,
    )

    orders = table(spark, sf_dir, "orders").df
    aggs = {
        "n": ("count", "o_orderkey"),
        "spend": ("sum", "o_totalprice"),
        "mean_spend": ("avg", "o_totalprice"),
        "lo": ("min", "o_totalprice"),
        "hi": ("max", "o_totalprice"),
    }
    keys = ["o_orderpriority"]
    days = [orders.where(F.col("o_orderkey") % 3 == i) for i in range(3)]
    states = [aggregate_state(d, keys, aggs) for d in days]
    merged = merge_states([merge_states(states[:2], keys), states[2]], keys)
    out = finalize_state(merged, keys, aggs)
    return out.select(
        "o_orderpriority",
        "n",
        fround(F.col("spend"), 2).alias("spend"),
        fround(F.col("mean_spend"), 2).alias("mean_spend"),
        "lo",
        "hi",
    )


@query(
    "compact_roundtrip",
    """
    SELECT CAST(o_orderstatus AS VARCHAR) AS o_orderstatus, count(*) AS n,
           floor(sum(o_totalprice) * 100 + 0.5) / 100 AS spend
    FROM orders GROUP BY o_orderstatus
    """,
)
def compact_roundtrip(spark, sf_dir):
    """Small-files compaction round trip: fragment orders into 16 files
    per partition dir, compact back to size-targeted files (metadata-only
    sizing pass + one narrow repartition), and verify the data through a
    grouped aggregate over the compacted copy."""
    import os
    import tempfile

    from graphique_spark import sources

    base = os.path.join(tempfile.gettempdir(), f"graphique_spark_compact_{os.getpid()}")
    src, dest = base + "_src", base + "_dest"
    orders = table(spark, sf_dir, "orders").df
    orders.repartition(16).write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(src)
    stats = sources.compact_parquet(
        spark, src, dest, partition_keys=["o_orderstatus"]
    )
    if not stats["files_after"] < stats["files_before"]:
        raise AssertionError("compaction did not reduce the file count")
    return (
        spark.read.parquet(dest)
        .groupBy(F.col("o_orderstatus").cast("string").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5)) / 100).alias("spend"),
        )
    )


@query(
    "cdc_apply",
    """
    SELECT o_orderkey,
           floor(o_totalprice * CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END
                 * 100 + 0.5) / 100 AS price,
           o_orderpriority
    FROM orders WHERE o_orderkey % 20 <> 0
    """,
)
def cdc_apply(spark, sf_dir):
    """CDC log fold: base snapshot missing every 4th order; a log that
    re-inserts them (seq 1), doubles every 10th order's price (seq 1) and
    deletes every 20th (seq 2, overriding the earlier update). The op log
    collapses map-side to latest-per-key; one anti-join against base —
    no window, no sort."""
    from graphique_spark.operators.cdc import apply_cdc

    orders = table(spark, sf_dir, "orders").df.select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    key = F.col("o_orderkey")
    base = orders.where(key % 4 != 0)
    # one scan for the whole op log: a union of three filtered projections
    # of the same table re-reads it three times; one conditional
    # struct-array explode emits exactly the same rows from one pass
    def op_row(cond, price, seq, op):
        return F.when(
            cond,
            F.struct(
                key.alias("o_orderkey"),
                price.alias("o_totalprice"),
                F.col("o_orderpriority"),
                F.lit(seq).alias("seq"),
                F.lit(op).alias("op"),
            ),
        )

    price = F.col("o_totalprice")
    log = (
        orders.select(
            F.explode(
                F.filter(
                    F.array(
                        op_row(key % 4 == 0, price, 1, "insert"),
                        op_row(key % 10 == 0, price * 2, 1, "update"),
                        op_row(key % 20 == 0, price, 2, "delete"),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("__op")
        )
        .select("__op.*")
    )
    snapshot = apply_cdc(base, log, keys=["o_orderkey"], seq_col="seq")
    return snapshot.select(
        "o_orderkey",
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100).alias("price"),
        "o_orderpriority",
    )


@query(
    "histogram_equidepth",
    """
    WITH b AS (
      SELECT [quantile_cont(o_totalprice, 0.125), quantile_cont(o_totalprice, 0.25),
              quantile_cont(o_totalprice, 0.375), quantile_cont(o_totalprice, 0.5),
              quantile_cont(o_totalprice, 0.625), quantile_cont(o_totalprice, 0.75),
              quantile_cont(o_totalprice, 0.875)] AS bounds
      FROM orders
    )
    SELECT len(list_filter(b.bounds, x -> x < o_totalprice)) AS bucket,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi, count(*) AS n
    FROM orders, b GROUP BY bucket
    """,
)
def histogram_equidepth(spark, sf_dir):
    """Equal-frequency histogram over order totals: exact interpolated
    octile boundaries (one aggregate row), in-row bucket assignment, hash
    count — no global sort anywhere."""
    from graphique_spark.functions.numeric import equidepth_histogram

    orders = table(spark, sf_dir, "orders").df
    return equidepth_histogram(orders, "o_totalprice", buckets=8)


@query(
    "group_regression",
    """
    SELECT l_returnflag,
           floor(regr_slope(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             AS slope,
           floor(regr_intercept(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             AS intercept,
           floor(corr(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             AS r
    FROM lineitem GROUP BY l_returnflag
    """,
)
def group_regression(spark, sf_dir):
    """Per-group OLS (price ~ quantity) from algebraic aggregates only:
    covar_pop/var_pop/avg/corr are all map-side-combinable hash
    aggregates — one slim shuffle, mergeable across deltas the same way
    operators.incremental states are."""
    li = table(spark, sf_dir, "lineitem").df
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    slope = F.covar_pop(y, x) / F.var_pop(x)
    grouped = li.groupBy("l_returnflag").agg(
        slope.alias("slope_raw"),
        F.avg(y).alias("my"),
        F.avg(x).alias("mx"),
        F.corr(y, x).alias("r_raw"),
    )
    return grouped.select(
        "l_returnflag",
        fround(F.col("slope_raw"), 4).alias("slope"),
        fround(F.col("my") - F.col("slope_raw") * F.col("mx"), 4).alias("intercept"),
        fround(F.col("r_raw"), 4).alias("r"),
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (priority checking), adapted to this dataset's
    columns: orders with at least one late-shipping line, counted per
    priority. The EXISTS becomes a left-semi join — lineitem never
    duplicates orders, no distinct needed — and the quarter filter prunes
    the probe side before the shuffle."""
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(
        (orders.df["o_orderdate"] >= F.lit("1997-01-01").cast("timestamp"))
        & (orders.df["o_orderdate"] < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").df.select("l_orderkey", "l_shipdate")
    late = orders.df.join(
        li,
        (li["l_orderkey"] == orders.df["o_orderkey"])
        & (li["l_shipdate"] > orders.df["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT floor(sum(l_extendedprice * l_discount) * 100 + 0.5) / 100 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-filter-aggregate — every predicate pushes into the parquet scan,
    the sum partial-aggregates map-side, one row crosses the wire."""
    li = table(spark, sf_dir, "lineitem")
    li = li.filter(
        (li.df["l_shipdate"] >= F.lit("1997-01-01").cast("timestamp"))
        & (li.df["l_shipdate"] < F.lit("1998-01-01").cast("timestamp"))
        & (li.df["l_discount"] >= 0.05)
        & (li.df["l_discount"] <= 0.07)
        & (li.df["l_quantity"] < 24)
    )
    return li.df.agg(
        fround(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order distribution): left join keeps
    zero-order customers, the filter rides the JOIN CONDITION (not a
    where, which would turn the join inner), then a double aggregation —
    count per customer, histogram of counts."""
    cust = table(spark, sf_dir, "customer").df.select("c_custkey")
    orders = table(spark, sf_dir, "orders").df.select("o_orderkey", "o_custkey", "o_orderpriority")
    joined = cust.join(
        orders,
        (cust["c_custkey"] == orders["o_custkey"])
        & (orders["o_orderpriority"] != "1-URGENT"),
        "left",
    )
    per = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("bigint").alias("c_count")
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT floor(sum(l_extendedprice) / 7.0 * 100 + 0.5) / 100 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the correlated average
    becomes one per-part aggregate joined back — the big table aggregates
    once instead of re-scanning per row; the brand filter broadcasts
    through the part dimension."""
    li = table(spark, sf_dir, "lineitem").df.select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = table(spark, sf_dir, "part").df.where(F.col("p_brand") == "Brand#5").select(
        "p_partkey"
    )
    avg_qty = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("cut"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(avg_qty, on="l_partkey")
        .where(F.col("l_quantity") < F.col("cut"))
        .agg(fround(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           floor(sum(volume) * 100 + 0.5) / 100 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (bilateral shipping volume): the two-nation disjunction is
    applied AFTER both nation joins broadcast — Catalyst pushes each arm's
    single-nation conjuncts into the dimension scans; the fact shuffle
    happens once."""
    li = table(spark, sf_dir, "lineitem")
    li = li.filter(
        (li.df["l_shipdate"] >= F.lit("1996-01-01").cast("timestamp"))
        & (li.df["l_shipdate"] < F.lit("1998-01-01").cast("timestamp"))
    ).df.select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    orders = table(spark, sf_dir, "orders").df.select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").df.select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").df.select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").df.select("n_nationkey", "n_name")
    n1 = nation.toDF("n1_key", "supp_nation")
    n2 = nation.toDF("n2_key", "cust_nation")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(fround(F.sum("volume"), 2).alias("revenue"))
    )


@query(
    "q22_global_sales_opportunity",
    """
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           floor(sum(c_acctbal) * 100 + 0.5) / 100 AS totacctbal
    FROM (
      SELECT c_nationkey % 10 AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
    ) GROUP BY cntrycode ORDER BY cntrycode
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (dormant high-balance customers), dormancy adapted
    to this dataset: no orders since 1999 (every synthetic customer has
    SOME order, so the literal no-orders-ever predicate is empty). The
    scalar average rides in as a lazy one-row cross join, NOT EXISTS is a
    left-anti join with the date filter pushed into the orders scan — no
    correlated re-scans anywhere."""
    cust = table(spark, sf_dir, "customer").df.select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    orders = (
        table(spark, sf_dir, "orders")
        .df.where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    dormant = cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
    return (
        dormant.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg"))
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            fround(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           floor(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume) * 1000000 + 0.5) / 1000000 AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND p_type = 'ECONOMY'
    ) GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): eight-table join where every
    dimension broadcasts and the market-share ratio is a conditional sum
    over the same aggregate — no second pass, no self-join."""
    li = table(spark, sf_dir, "lineitem").df.select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    part = table(spark, sf_dir, "part").df.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = table(spark, sf_dir, "orders")
    orders = orders.filter(
        (orders.df["o_orderdate"] >= F.lit("1996-01-01").cast("timestamp"))
        & (orders.df["o_orderdate"] < F.lit("1998-01-01").cast("timestamp"))
    ).df.select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").df.select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").df.select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").df
    region = table(spark, sf_dir, "region").df.where(F.col("r_name") == "ASIA")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region["r_regionkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n2), supp["s_nationkey"] == F.col("n2_key"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            fround(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "correlation_matrix",
    """
    SELECT floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000
             AS qty_price,
           floor(corr(l_quantity, l_discount) * 1000000 + 0.5) / 1000000
             AS qty_disc,
           floor(corr(l_extendedprice, l_tax) * 1000000 + 0.5) / 1000000
             AS price_tax,
           floor(covar_samp(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
             AS qty_price_cov
    FROM lineitem
    """,
)
def correlation_matrix(spark, sf_dir):
    """Pairwise Pearson correlations + sample covariance in one aggregate
    pass — feature-analysis over the fact table with algebraic (map-side
    combinable) moments only."""
    li = table(spark, sf_dir, "lineitem").df
    return li.agg(
        fround(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        fround(F.corr("l_quantity", "l_discount"), 6).alias("qty_disc"),
        fround(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
        fround(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_cov"),
    )


@query(
    "monthly_top_parts",
    """
    WITH monthly AS (
      SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             l_partkey AS p_partkey,
             floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    )
    SELECT month, p_partkey, revenue FROM (
      SELECT *, row_number() OVER (PARTITION BY month
                                   ORDER BY revenue DESC, p_partkey) AS rn
      FROM monthly
    ) WHERE rn <= 3
    """,
)
def monthly_top_parts(spark, sf_dir):
    """Trending report: top-3 parts by revenue per month. Aggregate first
    (map-side partials shrink the fact table to month x part), then a
    per-month rank over the already-small aggregate — the window never
    sees raw lineitem rows. Rank on the rounded value so the cut is
    engine-deterministic."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    li = li.filter(
        (li.df["l_shipdate"] >= F.lit("1997-01-01").cast("timestamp"))
        & (li.df["l_shipdate"] < F.lit("1998-01-01").cast("timestamp"))
    ).df
    monthly = (
        li.groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month"),
            F.col("l_partkey").alias("p_partkey"),
        )
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("month").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        monthly.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("month", "p_partkey", "revenue")
    )


@query(
    "revenue_share_ratio",
    """
    WITH per AS (
      SELECT r_name, n_name, sum(c_acctbal) AS bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           floor(bal * 100 + 0.5) / 100 AS bal,
           floor(bal / sum(bal) OVER (PARTITION BY r_name) * 1000000 + 0.5)
             / 1000000 AS share_in_region,
           floor(bal / sum(bal) OVER () * 1000000 + 0.5) / 1000000
             AS share_global
    FROM per
    """,
)
def revenue_share_ratio(spark, sf_dir):
    """Ratio-to-report (percent-of-total contribution): each nation's
    balance share within its region and globally, as window sums over the
    25-row aggregate — the windows run on post-aggregation data, so the
    single-partition global frame is a non-issue at any scale."""
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer").df
    nation = table(spark, sf_dir, "nation").df
    region = table(spark, sf_dir, "region").df
    per = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum("c_acctbal").alias("bal"))
    )
    in_region = Window.partitionBy("r_name")
    return per.select(
        "r_name",
        "n_name",
        fround(F.col("bal"), 2).alias("bal"),
        fround(F.col("bal") / F.sum("bal").over(in_region), 6).alias("share_in_region"),
        fround(
            F.col("bal") / F.sum("bal").over(Window.partitionBy()), 6
        ).alias("share_global"),
    )


@query(
    "revenue_concentration_gini",
    """
    WITH per AS (
      SELECT o_custkey, sum(o_totalprice) AS spend FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT spend, row_number() OVER (ORDER BY spend, o_custkey) AS i,
             count(*) OVER () AS n, sum(spend) OVER () AS total
      FROM per
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           floor((2.0 * sum(i * spend) / (max(n) * max(total))
                  - (max(n) + 1.0) / max(n)) * 1000000 + 0.5) / 1000000 AS gini
    FROM ranked
    """,
)
def revenue_concentration_gini(spark, sf_dir):
    """Revenue concentration (Gini coefficient over per-customer spend):
    the inequality metric behind 'top-1% of customers' dashboards, from
    the sorted-rank closed form — one aggregate, one global rank over the
    per-customer rollup (range partitioner at scale), one scalar."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").df
    per = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    w = Window.orderBy(F.col("spend"), F.col("o_custkey"))
    ranked = per.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        fround(
            2.0 * F.sum(F.col("i") * F.col("spend")) / (F.count(F.lit(1)) * F.sum("spend"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier, the view + scalar-max shape): quarterly
    revenue per supplier, keep every supplier tied at the max — the scalar
    subquery becomes a lazy one-row max cross-joined into the filter, the
    supplier dimension broadcasts, and the revenue aggregate is computed
    once (not once for the view and once for the max)."""
    li = table(spark, sf_dir, "lineitem")
    li = li.filter(
        (li.df["l_shipdate"] >= F.lit("1997-01-01").cast("timestamp"))
        & (li.df["l_shipdate"] < F.lit("1997-04-01").cast("timestamp"))
    ).df
    # materialized: consumed twice, by the max scalar and the filter probe
    revenue = materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("__mx"))
    supp = table(spark, sf_dir, "supplier").df.select("s_suppkey", "s_name")
    out = (
        revenue.crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )
    return out


@query(
    "q21_suppliers_kept_waiting",
    """
    WITH fli AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT n.n_name, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM fli l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM fli l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM fli l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY n.n_name, s.s_name
    ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def q21_suppliers_kept_waiting(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting) adapted to the
    testdata schema: no receipt/commit dates, so "late" is shipping more
    than 60 days after the order date. The reference planner shape is the
    double correlated EXISTS / NOT EXISTS self-join on lineitem; the
    Spark-first plan rewrites both into ONE per-order collect_list
    aggregate (bounded by order size) whose in-row distinct counts decide
    qualification — >= 2 suppliers, exactly one late supplier — and whose
    late items explode back as the candidate rows. One lineitem scan and
    ONE lineitem shuffle total instead of two self-joins (the old stats
    groupBy + candidate join executed the lineitem⋈orders subplan twice);
    supplier and nation broadcast; top-100 is a TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem").df.select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        table(spark, sf_dir, "orders")
        .df.where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    fli = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        # timestamp + interval preserves time-of-day, matching the oracle's
        # o_orderdate + INTERVAL 60 DAY (date_add would truncate to midnight)
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # one scan + ONE exchange: the per-order supplier stats and the late
    # candidate rows both come out of a single collect_list aggregate
    # (bounded: a TPC-H order holds <= 7 lineitems), instead of the stats
    # groupBy + candidate join each re-executing the fli subplan. The
    # distinct counts fold in-row over the collected list; exploding the
    # late items of qualifying orders re-creates exactly the join's
    # candidate stream (countDistinct ignores null/false `late` rows the
    # same way the array filter drops them).
    grouped = fli.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_suppkey", "late")).alias("__items")
    )
    late_items = F.filter(F.col("__items"), lambda x: x["late"])
    cand = (
        grouped.where(
            (
                F.size(
                    F.array_distinct(
                        F.transform(F.col("__items"), lambda x: x["l_suppkey"])
                    )
                )
                >= 2
            )
            & (
                F.size(
                    F.array_distinct(F.transform(late_items, lambda x: x["l_suppkey"]))
                )
                == 1
            )
        )
        .select(F.explode(late_items).alias("__it"))
        .select(F.col("__it.l_suppkey").alias("l_suppkey"))
    )
    supp = table(spark, sf_dir, "supplier").df.select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = table(spark, sf_dir, "nation").df.select("n_nationkey", "n_name")
    return (
        cand.join(F.broadcast(supp), cand["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
