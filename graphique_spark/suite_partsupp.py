"""TPC-H partsupp-dependent query shapes (Q2 / Q9 / Q11 / Q16 / Q20),
adapted to the driver's trimmed testdata schema.

The reference engine accepts arbitrary ibis table roots (reference
README.md:42-56), so these classic correlated-subquery planner shapes are
reference-class workload.  The driver's testdata has no ``partsupp``
fixture yet (FIXTURES.md section 8 request stands), so the queries live in
their own registry and only merge into the main suite when
``partsupp.parquet`` exists at every driver scale factor — until then the
pytest micro-fixture in ``tests/test_partsupp.py`` (distinct lineitem
(partkey, suppkey) pairs plus deterministic extras, mirroring TPC-H's
"lineitem pairs come from partsupp" invariant) keeps them verified against
DuckDB.

Expected fixture schema::

    ps_partkey BIGINT, ps_suppkey BIGINT, ps_availqty BIGINT,
    ps_supplycost DOUBLE

Spark-first notes: every correlated scalar subquery is rewritten as either
a per-key window min over an already-shuffled frame (Q2) or a one-row
broadcast scalar (Q11); dimensions broadcast; the Q20 demand aggregate and
the partsupp probe share the same (partkey, suppkey) shuffle key so the
exchange is reused.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from graphique_spark import suite
from graphique_spark.session import materialize
from graphique_spark.suite import fround, table

PARTSUPP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
PARTSUPP_ORACLES: dict[str, str] = {}

#: Driver scale factors whose testdata must all carry partsupp.parquet
#: before these queries enter the driver-facing suite (correctness runs at
#: sf0.01, bench at sf0.1, the smoke entry at sf0.001).
_DRIVER_ROOTS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def partsupp_query(name: str, oracle: str):
    def register(fn):
        PARTSUPP_QUERIES[name] = fn
        PARTSUPP_ORACLES[name] = oracle
        return fn

    return register


def _regional_suppliers(spark, sf_dir: str, r_name: str) -> DataFrame:
    """supplier ⨝ nation ⨝ region filtered to one region — tiny, broadcast."""
    supp = table(spark, sf_dir, "supplier").df
    nat = table(spark, sf_dir, "nation").df
    reg = table(spark, sf_dir, "region").df.where(F.col("r_name") == r_name)
    return (
        supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


@partsupp_query(
    "q2_min_cost_supplier",
    """
    WITH rps AS (
      SELECT ps.ps_partkey, ps.ps_supplycost, s.s_acctbal, s.s_name, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
    FROM part p JOIN rps ON p.p_partkey = rps.ps_partkey
    WHERE p.p_size BETWEEN 10 AND 14 AND p.p_type IN ('LARGE', 'ECONOMY')
      AND ps_supplycost = (SELECT min(r2.ps_supplycost) FROM rps r2
                           WHERE r2.ps_partkey = p.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier in a region).  The correlated
    ``ps_supplycost = (SELECT min ...)`` subquery becomes a window min over
    ``ps_partkey`` on the region-filtered partsupp — the window reuses the
    single shuffle instead of aggregating-then-self-joining; supplier/
    nation/region and the size/type-filtered part dimension broadcast.
    The ORDER BY key (acctbal, n_name, s_name, p_partkey) is a strict
    total order (s_name unique per supplier), so LIMIT 100 is
    deterministic."""
    rsup = _regional_suppliers(spark, sf_dir, "EUROPE")
    ps = table(spark, sf_dir, "partsupp").df.select(
        "ps_partkey", "ps_suppkey", "ps_supplycost"
    )
    rps = ps.join(F.broadcast(rsup), ps["ps_suppkey"] == rsup["s_suppkey"])
    w = Window.partitionBy("ps_partkey")
    rps = rps.withColumn("__min_cost", F.min("ps_supplycost").over(w)).where(
        F.col("ps_supplycost") == F.col("__min_cost")
    )
    part = (
        table(spark, sf_dir, "part")
        .df.where(
            F.col("p_size").between(10, 14) & F.col("p_type").isin("LARGE", "ECONOMY")
        )
        .select("p_partkey", "p_brand")
    )
    return (
        rps.join(F.broadcast(part), rps["ps_partkey"] == part["p_partkey"])
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "ps_supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@partsupp_query(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           floor(sum(l_extendedprice * (1 - l_discount)
                     - ps_supplycost * l_quantity) * 100 + 0.5) / 100 AS sum_profit
    FROM lineitem l
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%rod'
    GROUP BY n_name, o_year
    """,
)
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 (product-type profit by nation and year).  part (name-
    filtered), supplier, and nation broadcast; lineitem ⨝ partsupp on the
    composite (partkey, suppkey) key and lineitem ⨝ orders are the two
    genuine fact shuffles — partsupp scales with |part| x suppliers-per-
    part, so it is NOT broadcast; AQE may still elect to at small SF.
    Groups are (nation, year) — small per-group row counts keep the
    fround(2) on the float sum cross-engine stable (same convention as
    q1_pricing_summary)."""
    li = table(spark, sf_dir, "lineitem").df.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    part = (
        table(spark, sf_dir, "part")
        .df.where(F.col("p_name").like("%rod"))
        .select("p_partkey")
    )
    li = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).drop(
        "p_partkey"
    )
    ps = table(spark, sf_dir, "partsupp").df.select(
        "ps_partkey", "ps_suppkey", "ps_supplycost"
    )
    joined = li.join(
        ps,
        (li["l_partkey"] == ps["ps_partkey"]) & (li["l_suppkey"] == ps["ps_suppkey"]),
    )
    orders = table(spark, sf_dir, "orders").df.select("o_orderkey", "o_orderdate")
    joined = joined.join(orders, F.col("l_orderkey") == orders["o_orderkey"])
    supp = table(spark, sf_dir, "supplier").df.select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation").df.select("n_nationkey", "n_name")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        joined.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(fround(F.sum(profit), 2).alias("sum_profit"))
    )


@partsupp_query(
    "q11_important_stock",
    """
    WITH nps AS (
      SELECT ps.ps_partkey, ps.ps_availqty * ps.ps_supplycost AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    g AS (SELECT ps_partkey, sum(v) AS sv FROM nps GROUP BY ps_partkey)
    SELECT ps_partkey, floor(sv * 100 + 0.5) / 100 AS value
    FROM g
    WHERE floor(sv * 100 + 0.5) / 100
        > floor((SELECT sum(sv) FROM g) * 0.001 * 100 + 0.5) / 100
    """,
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock identification).  The scalar total
    subquery becomes a one-row aggregate broadcast-cross-joined into the
    HAVING filter; the grouped frame is materialized so the per-part sums
    are computed once, not once for the groups and once for the total
    (total = sum of group sums, aggregated FROM the materialized groups —
    no second scan).  Both engines compute the total as a sum of
    per-group sums (matching summation trees) and both sides of the
    threshold comparison go through the suite's fround convention, so a
    group sitting near the strict-float boundary can't flake parity
    (ADVICE r09).

    Intentional deviation from spec-strict TPC-H Q11 (ADVICE r10 item
    3): the spec compares ``sum(v) > total*0.001`` unrounded, so a group
    exceeding the threshold by < 0.005 while tying at 2-decimal
    precision is excluded here. Chosen deliberately: cross-engine parity
    of the membership set must be deterministic, and with float sums the
    strict comparison's boundary membership depends on summation order
    in BOTH engines."""
    rsup = _regional_suppliers(spark, sf_dir, "EUROPE").select("s_suppkey")
    ps = table(spark, sf_dir, "partsupp").df.select(
        "ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost"
    )
    nps = ps.join(F.broadcast(rsup), ps["ps_suppkey"] == rsup["s_suppkey"]).select(
        "ps_partkey",
        (F.col("ps_availqty") * F.col("ps_supplycost")).alias("v"),
    )
    # materialized: the total and the filter both read the groups
    groups = materialize(nps.groupBy("ps_partkey").agg(F.sum("v").alias("__sv")))
    total = groups.agg(F.sum("__sv").alias("__total"))
    return (
        groups.crossJoin(F.broadcast(total))
        .where(fround(F.col("__sv"), 2) > fround(F.col("__total") * 0.001, 2))
        .select("ps_partkey", fround(F.col("__sv"), 2).alias("value"))
    )


@partsupp_query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 36, 49)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship).  The NOT IN exclusion
    (complaint suppliers in TPC-H; adapted to low account balance on the
    trimmed schema — s_suppkey is non-null so NOT IN == anti-join) becomes
    a broadcast left-anti join; the brand/type/size-filtered part
    dimension broadcasts; the only shuffle is the count-distinct group."""
    bad = (
        table(spark, sf_dir, "supplier")
        .df.where(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    ps = table(spark, sf_dir, "partsupp").df.select("ps_partkey", "ps_suppkey")
    ps = ps.join(
        F.broadcast(bad), ps["ps_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    part = (
        table(spark, sf_dir, "part")
        .df.where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(part), ps["ps_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@partsupp_query(
    "q20_excess_stock_suppliers",
    """
    WITH need AS (
      SELECT l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey),
    cand AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN need ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget')
        AND ps_availqty > half_qty)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE' AND s_suppkey IN (SELECT ps_suppkey FROM cand)
    """,
)
def q20_excess_stock_suppliers(spark, sf_dir):
    """TPC-H Q20 (potential part promotion: suppliers whose stock exceeds
    half a year's shipped demand for name-filtered parts).  The correlated
    ``ps_availqty > 0.5 * (SELECT sum(l_quantity) ...)`` subquery becomes
    a (partkey, suppkey) demand aggregate joined to partsupp ON THE SAME
    composite key — the aggregate's shuffle partitioning is reused by the
    join; the part name filter broadcasts as does the final small distinct
    supplier-key set (semi join).  l_quantity is integer-valued so the
    half-demand comparison is float-exact in both engines."""
    li = table(spark, sf_dir, "lineitem").df.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    need = li.groupBy("l_partkey", "l_suppkey").agg(
        (F.lit(0.5) * F.sum("l_quantity")).alias("half_qty")
    )
    widget = (
        table(spark, sf_dir, "part")
        .df.where(F.col("p_name").like("%widget"))
        .select("p_partkey")
    )
    ps = table(spark, sf_dir, "partsupp").df.select(
        "ps_partkey", "ps_suppkey", "ps_availqty"
    )
    ps = ps.join(F.broadcast(widget), ps["ps_partkey"] == widget["p_partkey"])
    cand = (
        ps.join(
            need,
            (ps["ps_partkey"] == need["l_partkey"])
            & (ps["ps_suppkey"] == need["l_suppkey"]),
        )
        .where(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    rsup = _regional_suppliers(spark, sf_dir, "EUROPE")
    return rsup.join(
        F.broadcast(cand), rsup["s_suppkey"] == cand["ps_suppkey"], "semi"
    ).select("s_name", "n_name")


def partsupp_available(roots=_DRIVER_ROOTS) -> bool:
    return all(os.path.exists(os.path.join(r, "partsupp.parquet")) for r in roots)


# Auto-land into the driver-facing suite the round the fixture appears.
if partsupp_available():  # pragma: no cover - exercised once the fixture ships
    suite.QUERIES.update(PARTSUPP_QUERIES)
    suite.ORACLES.update(PARTSUPP_ORACLES)
