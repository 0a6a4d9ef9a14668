"""Seeded GraphQL request generators and their DuckDB oracle.

Every request carries its GraphQL document, the DuckDB SQL whose rows give
the expected answer, and a ``shape`` that turns those rows into the
expected ``data`` object. :func:`answer` fills in ``expected`` before any
timing starts; :func:`matches` compares a response against it.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from typing import Callable

from datagen import BRANDS, ORDERSTATUS, PRIORITIES, RETURNFLAGS, SIZES

DASHBOARD_ROOTS = ["lineitem", "orders", "customer", "nation", "part", "supplier"]
ANALYST_ROOTS = ["lineitem", "orders", "events", "ticks"]
INGEST_KEYS = ["l_shipyear", "l_returnflag"]
#: Orders per ingest slice: about 100k lineitem rows.
INGEST_ORDERS = 25_000


@dataclass
class Request:
    kind: str
    doc: str
    sql: list[str]
    shape: Callable[[list[list[tuple]]], dict]
    #: Applied to the response's ``data`` before comparing; for answers
    #: whose order the program does not define.
    normalize: Callable[[dict], dict] = lambda data: data  # noqa: E731
    #: ``toSql`` answers are SQL text: the text is run on Spark after the
    #: timed window and its row count compared with ``expected``.
    sql_text: bool = False
    expected: object = field(default=None, repr=False)


def _zipf(rng: random.Random, values: list, s: float = 1.2):
    """Skewed pick: the i-th value has weight 1/(i+1)^s, so the first few
    values recur and exact repeats of whole requests are common."""
    return rng.choices(values, weights=[1.0 / (i + 1) ** s for i in range(len(values))])[0]


def _col(rows: list[tuple], i: int) -> list:
    return [r[i] for r in rows]


# -- dashboard_mix -----------------------------------------------------------


def _d_count(rng):
    root = _zipf(rng, DASHBOARD_ROOTS)
    return Request("count", f"{{ {root} {{ count }} }}", [f"SELECT count(*) FROM {root}"],
                   lambda r: {root: {"count": r[0][0][0]}})


def _d_filtered_count(rng):
    status = _zipf(rng, ORDERSTATUS)
    price = 25_000 * _zipf(rng, list(range(20)))
    return Request(
        "filtered_count",
        f'{{ orders {{ filter(o_orderstatus: {{eq: ["{status}"]}}, '
        f"o_totalprice: {{gt: {price}}}) {{ count }} }} }}",
        [f"SELECT count(*) FROM orders WHERE o_orderstatus = '{status}' AND o_totalprice > {price}"],
        lambda r: {"orders": {"filter": {"count": r[0][0][0]}}},
    )


def _d_group(rng):
    flag = _zipf(rng, RETURNFLAGS)
    disc = _zipf(rng, list(range(11))) / 100.0
    return Request(
        "group_values",
        f'{{ lineitem {{ filter(l_returnflag: {{eq: ["{flag}"]}}, l_discount: {{le: {disc!r}}}) {{ '
        'group(by: ["l_linestatus"], counts: "n", aggregate: {sum: [{name: "l_quantity", alias: "q"}]}) { '
        'order(by: ["l_linestatus"]) { columns { l_linestatus { values } } '
        'n: column(name: "n") { values } q: column(name: "q") { values } } } } } }',
        [f"SELECT l_linestatus, count(*), sum(l_quantity) FROM lineitem WHERE l_returnflag = '{flag}' "
         f"AND l_discount <= {disc!r}::DOUBLE GROUP BY 1 ORDER BY 1"],
        lambda r: {"lineitem": {"filter": {"group": {"order": {
            "columns": {"l_linestatus": {"values": _col(r[0], 0)}},
            "n": {"values": _col(r[0], 1)}, "q": {"values": _col(r[0], 2)}}}}}},
    )


def _d_topn(rng):
    prio = _zipf(rng, PRIORITIES)
    status = _zipf(rng, ORDERSTATUS)
    k = 5  # fixed, so every pass answers the same number of leaves
    return Request(
        "top_n",
        f'{{ orders {{ filter(o_orderpriority: {{eq: ["{prio}"]}}, o_orderstatus: {{eq: ["{status}"]}}) {{ '
        f'order(by: ["-o_totalprice", "o_orderkey"], limit: {k}) {{ '
        "columns { o_orderkey { values } o_totalprice { values } } } } } }",
        [f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '{prio}' "
         f"AND o_orderstatus = '{status}' ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}"],
        lambda r: {"orders": {"filter": {"order": {"columns": {
            "o_orderkey": {"values": _col(r[0], 0)}, "o_totalprice": {"values": _col(r[0], 1)}}}}}},
    )


def _d_stats(rng):
    disc = _zipf(rng, list(range(11))) / 100.0
    return Request(
        "column_stats",
        f"{{ lineitem {{ filter(l_discount: {{le: {disc!r}}}) {{ columns {{ "
        "l_quantity { min max } l_extendedprice { sum } l_tax { mean } } } } }",
        [f"SELECT min(l_quantity), max(l_quantity), sum(l_extendedprice), avg(l_tax) "
         f"FROM lineitem WHERE l_discount <= {disc!r}::DOUBLE"],
        lambda r: {"lineitem": {"filter": {"columns": {
            "l_quantity": {"min": r[0][0][0], "max": r[0][0][1]},
            "l_extendedprice": {"sum": r[0][0][2]}, "l_tax": {"mean": r[0][0][3]}}}}},
    )


def _d_join_group(rng):
    prio = _zipf(rng, PRIORITIES)
    return Request(
        "join_group",
        f'{{ orders {{ filter(o_orderpriority: {{eq: ["{prio}"]}}) {{ '
        'join(right: "customer", keys: ["o_custkey"], rkeys: ["c_custkey"]) { '
        'group(by: ["c_mktsegment"], counts: "n") { order(by: ["c_mktsegment"]) { '
        'seg: column(name: "c_mktsegment") { values } n: column(name: "n") { values } } } } } } }',
        [f"SELECT c_mktsegment, count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
         f"WHERE o_orderpriority = '{prio}' GROUP BY 1 ORDER BY 1"],
        lambda r: {"orders": {"filter": {"join": {"group": {"order": {
            "seg": {"values": _col(r[0], 0)}, "n": {"values": _col(r[0], 1)}}}}}}},
    )


def _d_row(rng):
    key = _zipf(rng, [(k * 7919) % SIZES["orders"] for k in range(50)])
    return Request(
        "row_lookup",
        f"{{ orders {{ filter(o_orderkey: {{eq: [{key}]}}) {{ "
        "row { o_custkey o_totalprice o_orderstatus } } } }",
        [f"SELECT o_custkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey = {key}"],
        lambda r: {"orders": {"filter": {"row": dict(
            zip(["o_custkey", "o_totalprice", "o_orderstatus"], r[0][0]))}}},
    )


def _d_tosql(rng):
    qty = _zipf(rng, list(range(1, 51)))
    return Request(
        "to_sql",
        f"{{ lineitem {{ filter(l_quantity: {{gt: {qty}}}) {{ toSql }} }} }}",
        [f"SELECT count(*) FROM lineitem WHERE l_quantity > {qty}"],
        lambda r: r[0][0][0],
        sql_text=True,
    )


def _d_distinct(rng):
    nation = _zipf(rng, list(range(SIZES["nation"])))
    return Request(
        "distinct_values",
        f"{{ customer {{ filter(c_nationkey: {{eq: [{nation}]}}) {{ "
        "columns { c_mktsegment { distinct { values } } } } } }",
        [f"SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = {nation} ORDER BY 1"],
        lambda r: {"customer": {"filter": {"columns": {"c_mktsegment": {"distinct": {
            "values": _col(r[0], 0)}}}}}},
        normalize=_sort_distinct,
    )


def _sort_distinct(data: dict) -> dict:
    values = data["customer"]["filter"]["columns"]["c_mktsegment"]["distinct"]["values"]
    values.sort()
    return data


def _d_slice(rng):
    brand = _zipf(rng, BRANDS)
    offset = _zipf(rng, list(range(20)))
    return Request(
        "ordered_slice",
        f'{{ part {{ filter(p_brand: {{eq: ["{brand}"]}}) {{ '
        f'order(by: ["p_retailprice", "p_partkey"]) {{ slice(offset: {offset}, limit: 3) {{ '
        "columns { p_partkey { values } } } } } } }",
        [f"SELECT p_partkey FROM part WHERE p_brand = '{brand}' "
         f"ORDER BY p_retailprice, p_partkey LIMIT 3 OFFSET {offset}"],
        lambda r: {"part": {"filter": {"order": {"slice": {"columns": {
            "p_partkey": {"values": _col(r[0], 0)}}}}}}},
    )


DASHBOARD = [_d_count, _d_filtered_count, _d_group, _d_topn, _d_stats, _d_join_group,
             _d_row, _d_tosql, _d_distinct, _d_slice]


# -- analyst_scan --------------------------------------------------------------


def _price(rng, low, high) -> float:
    return round(rng.uniform(low, high), 2)


def _a_multi(rng):
    qty, price = rng.randint(1, 49), _price(rng, 5_000, 100_000)
    where = f"l_quantity > {qty} AND l_extendedprice < {price}"
    return Request(
        "multi_field",
        f"{{ lineitem {{ filter(l_quantity: {{gt: {qty}}}, l_extendedprice: {{lt: {price}}}) {{ count "
        'group(by: ["l_returnflag"], counts: "n") { order(by: ["l_returnflag"]) { '
        'columns { l_returnflag { values } } n: column(name: "n") { values } } } '
        "columns { l_extendedprice { sum } l_discount { max } } } } }",
        [f"SELECT count(*), sum(l_extendedprice), max(l_discount) FROM lineitem WHERE {where}",
         f"SELECT l_returnflag, count(*) FROM lineitem WHERE {where} GROUP BY 1 ORDER BY 1"],
        lambda r: {"lineitem": {"filter": {
            "count": r[0][0][0],
            "group": {"order": {"columns": {"l_returnflag": {"values": _col(r[1], 0)}},
                                "n": {"values": _col(r[1], 1)}}},
            "columns": {"l_extendedprice": {"sum": r[0][0][1]}, "l_discount": {"max": r[0][0][2]}}}}},
    )


def _a_group(rng):
    price = _price(rng, 1_000, 90_000)
    return Request(
        "high_card_group",
        f"{{ lineitem {{ filter(l_extendedprice: {{gt: {price}}}) {{ "
        'group(by: ["l_partkey"], counts: "n", aggregate: {sum: [{name: "l_quantity", alias: "q"}]}) { '
        'order(by: ["-q", "l_partkey"], limit: 5) { columns { l_partkey { values } } '
        'q: column(name: "q") { values } n: column(name: "n") { values } } } } } }',
        [f"SELECT l_partkey, sum(l_quantity) q, count(*) n FROM lineitem "
         f"WHERE l_extendedprice > {price} GROUP BY 1 ORDER BY q DESC, l_partkey LIMIT 5"],
        lambda r: {"lineitem": {"filter": {"group": {"order": {
            "columns": {"l_partkey": {"values": _col(r[0], 0)}},
            "q": {"values": _col(r[0], 1)}, "n": {"values": _col(r[0], 2)}}}}}},
    )


def _a_join(rng):
    price = _price(rng, 20_000, 100_000)
    return Request(
        "join",
        f"{{ lineitem {{ filter(l_extendedprice: {{gt: {price}}}) {{ "
        'join(right: "orders", keys: ["l_orderkey"], rkeys: ["o_orderkey"]) { '
        'count tp: column(name: "o_totalprice") { sum } } } } }',
        [f"SELECT count(*), sum(o_totalprice) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
         f"WHERE l_extendedprice > {price}"],
        lambda r: {"lineitem": {"filter": {"join": {"count": r[0][0][0], "tp": {"sum": r[0][0][1]}}}}},
    )


def _a_runs(rng):
    users, value = rng.randint(50, 1_000), _price(rng, 0, 50)
    return Request(
        "runs",
        f"{{ events {{ filter(user_id: {{lt: {users}}}, value: {{gt: {value}}}) {{ "
        'runs(by: ["event_type"], orderBy: ["ts"], counts: "n") { count } } } }',
        ["SELECT count(*) FROM (SELECT event_type, lag(event_type) OVER (ORDER BY ts) AS prev "
         f"FROM events WHERE user_id < {users} AND value > {value}) "
         "WHERE prev IS NULL OR prev <> event_type"],
        lambda r: {"events": {"filter": {"runs": {"count": r[0][0][0]}}}},
    )


def _a_first(rng):
    value = _price(rng, 0, 90)
    return Request(
        "first_over",
        f"{{ events {{ filter(value: {{gt: {value}}}) {{ "
        'first(by: ["-value", "event_id"], over: ["user_id"]) { count columns { value { sum } } } } } }',
        ["SELECT count(*), sum(mv) FROM (SELECT max(value) AS mv FROM events "
         f"WHERE value > {value} GROUP BY user_id)"],
        lambda r: {"events": {"filter": {"first": {"count": r[0][0][0],
                                                   "columns": {"value": {"sum": r[0][0][1]}}}}}},
    )


def _a_distinct(rng):
    value = _price(rng, 0, 90)
    return Request(
        "distinct_on",
        f"{{ events {{ filter(value: {{gt: {value}}}) {{ "
        'distinct(on: ["user_id", "event_type"]) { count } } } }',
        ["SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM events "
         f"WHERE value > {value})"],
        lambda r: {"events": {"filter": {"distinct": {"count": r[0][0][0]}}}},
    )


def _a_asof(rng):
    users, value = rng.randint(50, 1_000), _price(rng, 0, 50)
    return Request(
        "asof_join",
        f"{{ events {{ filter(user_id: {{lt: {users}}}, value: {{gt: {value}}}) {{ "
        'asofJoin(right: "ticks", on: "ts", keys: ["user_id"]) { '
        'count lv: column(name: "level") { sum count } } } } }',
        ["SELECT count(*), sum(t.level), count(t.level) FROM "
         f"(SELECT * FROM events WHERE user_id < {users} AND value > {value}) e "
         "ASOF LEFT JOIN ticks t ON e.user_id = t.user_id AND e.ts >= t.ts"],
        lambda r: {"events": {"filter": {"asofJoin": {
            "count": r[0][0][0], "lv": {"sum": r[0][0][1], "count": r[0][0][2]}}}}},
    )


ANALYST = [_a_multi, _a_group, _a_join, _a_runs, _a_first, _a_distinct, _a_asof]


def request_pool(templates, seed: int, stream: str, n: int) -> list[Request]:
    """``n`` requests, the same for the same seed. Each run of
    ``len(templates)`` requests uses every template once, in a seeded
    order, so the mix is the same for every seed and every window length."""
    rng = random.Random(f"{stream}-{seed}")
    out: list[Request] = []
    while len(out) < n:
        for template in rng.sample(templates, len(templates)):
            out.append(template(rng))
    return out[:n]


# -- partitioned_ingest ------------------------------------------------------


@dataclass
class IngestSlice:
    """One ingest iteration: the lineitem rows of orders [lo, hi) and the
    partition-aware requests run on the written root."""

    lo: int
    hi: int
    requests: list[Request]
    rows: int = 0


def ingest_slices(seed: int, n: int) -> list[IngestSlice]:
    rng = random.Random(f"ingest-{seed}")
    out = []
    for _ in range(n):
        lo = rng.randrange(0, SIZES["orders"] - INGEST_ORDERS)
        year = rng.randint(1992, 2001)
        out.append(IngestSlice(lo, lo + INGEST_ORDERS, [
            Request("meta_count", "{ count }", ["SELECT count(*) FROM s"],
                    lambda r: {"count": r[0][0][0]}),
            Request(
                "partition_group",
                '{ group(by: ["l_shipyear", "l_returnflag"], counts: "n") { '
                'order(by: ["l_shipyear", "l_returnflag"]) { columns { l_shipyear { values } '
                'l_returnflag { values } } n: column(name: "n") { values } } } }',
                ["SELECT l_shipyear, l_returnflag, count(*) FROM s GROUP BY 1, 2 ORDER BY 1, 2"],
                lambda r: {"group": {"order": {
                    "columns": {"l_shipyear": {"values": _col(r[0], 0)},
                                "l_returnflag": {"values": _col(r[0], 1)}},
                    "n": {"values": _col(r[0], 2)}}}},
            ),
            Request(
                "partition_filter",
                f"{{ filter(l_shipyear: {{eq: [{year}]}}) {{ count }} }}",
                [f"SELECT count(*) FROM s WHERE l_shipyear = {year}"],
                lambda r: {"filter": {"count": r[0][0][0]}},
            ),
            Request(
                "partition_top_n",
                '{ order(by: ["l_shipyear", "-l_extendedprice", "l_orderkey", "l_linenumber"], '
                "limit: 5) { columns { l_orderkey { values } l_linenumber { values } "
                "l_extendedprice { values } } } }",
                ["SELECT l_orderkey, l_linenumber, l_extendedprice FROM s ORDER BY l_shipyear, "
                 "l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 5"],
                lambda r: {"order": {"columns": {
                    "l_orderkey": {"values": _col(r[0], 0)},
                    "l_linenumber": {"values": _col(r[0], 1)},
                    "l_extendedprice": {"values": _col(r[0], 2)}}}},
            ),
            Request(
                "partition_first",
                '{ first(by: ["-l_shipyear"]) { count columns { l_quantity { sum } } } }',
                ["SELECT count(*), sum(l_quantity) FROM s "
                 "WHERE l_shipyear = (SELECT max(l_shipyear) FROM s)"],
                lambda r: {"first": {"count": r[0][0][0],
                                     "columns": {"l_quantity": {"sum": r[0][0][1]}}}},
            ),
        ]))
    return out


INGEST_VIEW = ("CREATE OR REPLACE VIEW s AS SELECT *, year(l_shipdate) AS l_shipyear "
               "FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}")


# -- oracle ------------------------------------------------------------------


def answer(con, requests: list[Request]) -> None:
    """Fill ``expected`` from DuckDB; identical documents are asked once."""
    seen: dict[str, object] = {}
    for req in requests:
        if req.doc not in seen:
            seen[req.doc] = req.shape([con.execute(q).fetchall() for q in req.sql])
        req.expected = seen[req.doc]


def matches(got, want) -> bool:
    """Structural equality; floats compare to a relative 1e-9, because
    Spark and DuckDB sum in different orders."""
    if isinstance(want, dict):
        return isinstance(got, dict) and got.keys() == want.keys() and all(
            matches(got[k], want[k]) for k in want)
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            matches(g, w) for g, w in zip(got, want))
    if isinstance(want, float) or isinstance(got, float):
        return (isinstance(got, (int, float)) and isinstance(want, (int, float))
                and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9))
    return got == want


def count_leaves(data) -> int:
    """Scalar leaves in a response: each list element counts once."""
    if isinstance(data, dict):
        return sum(count_leaves(v) for v in data.values())
    if isinstance(data, list):
        return len(data)
    return 1
