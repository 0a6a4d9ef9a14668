"""Render a ``Dataset``'s recorded operator chain as executable Spark SQL.

The reference's ``toSql`` returns runnable, dialect-aware SQL text compiled
from the current expression chain (reference interface.py:109-115 via
ibis/SQLGlot). The Spark-first equivalent here: every supported ``Dataset``
operator records a lazy log entry (the operator name, its *input* DataFrame,
and its arguments — see ``dataset.py``); ``render`` folds that log into one
SQL statement of nested SELECT blocks that ``spark.sql`` re-executes with
identical semantics.

Operators written once as SQL text (``operators.topk``, ``sql(query:)``,
``operators.asof.AsofSql``) run it through :func:`run_sql` and render the
same builder over the rendered input. A ``spark.sql`` call pays ~10 ms for
its temp view, so cheaper operators stay DataFrame steps with an ``op_*``.

Expression fidelity comes from Catalyst itself, not a hand-written
expression grammar: each ``pyspark.sql.Column`` is analyzed against its
input frame (``df.select(col.alias(tag))``) and the *resolved* expression's
``.sql()`` rendering is extracted from the analyzed plan — so arithmetic,
CASE, window frames, casts and typed literals all round-trip exactly as
Catalyst prints them. Higher-order-function lambdas are the one construct
whose Catalyst rendering (``lambdafunction(...)/namedlambdavariable()``)
does not re-parse; single-variable lambdas are rewritten to arrow syntax,
anything ambiguous raises :class:`Unrenderable` and ``Dataset.to_sql``
falls back to the optimized-plan dump.

Runnability contract: parquet roots render as ``parquet.`/path``` scans
(standalone); named roots render as their table identifier, which must
resolve in the session (a catalog table or a registered temp view).
"""

from __future__ import annotations

import itertools
import re
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame


class Unrenderable(Exception):
    """The operator chain contains a step with no SQL-text equivalent."""


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_counter = itertools.count()


def quote(name: str) -> str:
    if _IDENT.match(name):
        return name
    return "`" + name.replace("`", "``") + "`"


def table_ref(name: str) -> str:
    """Quote a possibly-dotted catalog identifier part by part."""
    return ".".join(quote(part) for part in name.split("."))


# -- expression rendering ----------------------------------------------------


def _collect_aliases(jplan, out: dict[str, str]) -> None:
    """Every Alias in the analyzed plan tree, name -> child SQL."""
    exprs = jplan.expressions()
    for i in range(exprs.size()):
        e = exprs.apply(i)
        if e.getClass().getSimpleName() == "Alias" and e.name() not in out:
            out[e.name()] = e.child().sql()
    children = jplan.children()
    for i in range(children.size()):
        _collect_aliases(children.apply(i), out)


_INTERNAL_ATTR = re.compile(r"\b(_we\d+|_w\d+)\b")


def _split_opaque(sql: str) -> list[tuple[str, bool]]:
    """Split rendered SQL into (segment, opaque) runs: '...'-quoted string
    literals (backslash-escape aware) and `...`-quoted identifiers
    (``-escape aware) are opaque — token substitution must never look
    inside them (a literal containing "_we0" is data, not an attribute)."""
    out: list[tuple[str, bool]] = []
    i = start = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            if i > start:
                out.append((sql[start:i], False))
            j = i + 1
            while j < n and sql[j] != "'":
                j += 2 if sql[j] == "\\" else 1
            if j >= n:
                raise Unrenderable("unterminated string literal in rendering")
            out.append((sql[i : j + 1], True))
            i = start = j + 1
        elif ch == "`":
            if i > start:
                out.append((sql[start:i], False))
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":  # escaped backtick
                        j += 2
                        continue
                    break
                j += 1
            if j >= n:
                raise Unrenderable("unterminated quoted identifier in rendering")
            out.append((sql[i : j + 1], True))
            i = start = j + 1
        else:
            i += 1
    if start < n:
        out.append((sql[start:], False))
    return out


_QUALIFIER = re.compile(r"(?<![\w.`])(?:[A-Za-z_]\w*\.)+")


def _unqualified(sql: str, columns: frozenset[str]) -> str:
    """``sql`` without the relation qualifiers (``__w.x`` -> ``x``) that a
    frame run from SQL text carries and a rendered block can't resolve;
    dotted parts from the first input column on are struct field access."""

    def _drop(m: re.Match) -> str:
        parts = m.group(0).split(".")[:-1]
        head = next((i for i, p in enumerate(parts) if p in columns), len(parts))
        return "".join(p + "." for p in parts[head:])

    return "".join(
        seg if opaque else _QUALIFIER.sub(_drop, seg) for seg, opaque in _split_opaque(sql)
    )


def _walk_alias(jplan, tag: str, protected: frozenset[str] = frozenset()) -> str | None:
    """SQL of the Alias named ``tag``, with Catalyst-internal window
    attributes inlined: analysis extracts window expressions into their own
    Window node (aliased ``_we0``...), so a composite like
    ``coalesce(x > lag(x) OVER w, false)`` projects ``coalesce(_we0,
    false)`` — the extracted expressions' SQL is substituted back in.

    ``protected`` holds the input frame's real column names: a user column
    that happens to be named ``_we0``/``_w1`` must survive untouched rather
    than being mistaken for an extracted window attribute."""
    aliases: dict[str, str] = {}
    _collect_aliases(jplan, aliases)
    sql = aliases.get(tag)
    if sql is None:
        return None

    def _inline(m: re.Match) -> str:
        name = m.group(0)
        if name not in aliases:
            return name
        if name in protected:
            # the printed token could mean either the real column or the
            # extracted window attribute — no safe rendering exists
            raise Unrenderable(f"column name {name!r} collides with an internal attribute")
        return f"({aliases[name]})"

    for _ in range(10):  # nested extractions resolve in a few rounds
        replaced = "".join(
            seg if opaque else _INTERNAL_ATTR.sub(_inline, seg)
            for seg, opaque in _split_opaque(sql)
        )
        if replaced == sql:
            break
        sql = replaced
    for seg, opaque in _split_opaque(sql):
        if opaque:
            continue
        for m in _INTERNAL_ATTR.finditer(seg):
            if m.group(0) not in protected:
                raise Unrenderable(f"unresolved internal attribute in rendering: {sql}")
    return sql


#: Catalyst's ``array_sort(x)`` resolves the implicit default comparator to
#: an explicit two-variable lambda whose rendering is this exact constant
#: (type-independent). Stripping it restores the one-argument form.
_DEFAULT_CMP = (
    "lambdafunction((IF(((namedlambdavariable() IS NULL) AND "
    "(namedlambdavariable() IS NULL)), 0, (IF((namedlambdavariable() IS NULL), 1, "
    "(IF((namedlambdavariable() IS NULL), -1, (IF((namedlambdavariable() < "
    "namedlambdavariable()), -1, (IF((namedlambdavariable() > "
    "namedlambdavariable()), 1, 0)))))))))), namedlambdavariable(), "
    "namedlambdavariable())"
)


def _fix_lambdas(sql: str) -> str:
    """Rewrite Catalyst's resolved lambda rendering to parseable arrow
    syntax: ``lambdafunction(BODY, namedlambdavariable())`` → ``x -> BODY``.

    Only unambiguous cases are rewritten: a single lambda variable and no
    nested lambda (nested bodies can capture the outer variable, and every
    occurrence prints identically, so substitution would guess)."""
    out = sql.replace(", " + _DEFAULT_CMP + ")", ")")
    n = 0
    while True:
        start = out.find("lambdafunction(")
        if start < 0:
            break
        # find the matching close paren
        depth = 0
        i = start + len("lambdafunction(") - 1
        args_start = i + 1
        splits = []
        end = None
        while i < len(out):
            ch = out[i]
            if ch == "'":  # skip string literals (backslash-escape aware)
                j = i + 1
                while j < len(out) and out[j] != "'":
                    j += 2 if out[j] == "\\" else 1
                if j >= len(out):
                    raise Unrenderable("unterminated string literal in rendering")
                i = j
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
            elif ch == "," and depth == 1:
                splits.append(i)
            i += 1
        if end is None:
            raise Unrenderable("unbalanced lambdafunction rendering")
        parts, prev = [], args_start
        for s in splits:
            parts.append(out[prev:s])
            prev = s + 2  # skip ", "
        parts.append(out[prev:end])
        body, variables = parts[0], parts[1:]
        if len(variables) != 1 or "lambdafunction(" in body:
            raise Unrenderable("ambiguous multi-variable or nested lambda")
        var = f"__lv{n}"
        n += 1
        body = body.replace("namedlambdavariable()", var)
        out = out[:start] + f"{var} -> {body}" + out[end + 1 :]
    if "namedlambdavariable" in out:
        raise Unrenderable("stray lambda variable")
    return out


def expr_sql(df: DataFrame, col: Column) -> str:
    """Resolved SQL text of ``col`` evaluated against ``df``."""
    tag = f"__sqlx{next(_counter)}"
    try:
        plan = df.select(col.alias(tag))._jdf.queryExecution().analyzed()
    except Exception as exc:  # unresolvable against this frame
        raise Unrenderable(str(exc)) from exc
    columns = frozenset(df.columns)
    sql = _walk_alias(plan, tag, protected=columns)
    if sql is None:
        raise Unrenderable("alias not found in analyzed plan")
    return _fix_lambdas(_unqualified(sql, columns))


def agg_sqls(df: DataFrame, aggcols: Sequence[Column]) -> list[tuple[str, str]]:
    """Resolved ``(name, sql)`` for pre-aliased aggregate Columns, analyzed
    in a (global) grouped context so aggregate functions resolve."""
    try:
        plan = df.groupBy().agg(*aggcols)._jdf.queryExecution().analyzed()
    except Exception as exc:
        raise Unrenderable(str(exc)) from exc
    # the analyzed top node is the Aggregate holding our aliases
    out: list[tuple[str, str]] = []
    node = plan
    while node.getClass().getSimpleName() != "Aggregate":
        children = node.children()
        if children.size() != 1:
            raise Unrenderable("unexpected aggregate plan shape")
        node = children.apply(0)
    columns = frozenset(df.columns)
    exprs = node.aggregateExpressions()
    for i in range(exprs.size()):
        e = exprs.apply(i)
        if e.getClass().getSimpleName() == "Alias":
            out.append((e.name(), _fix_lambdas(_unqualified(e.child().sql(), columns))))
    if len(out) != len(aggcols):
        raise Unrenderable("aggregate alias extraction mismatch")
    return out


def col_ref(name: str) -> str:
    """Column reference: dotted names are nested access (matching
    ``F.col``/``DataFrame.select`` semantics), never one quoted name."""
    return table_ref(name) if "." in name else quote(name)


def sort_item(key: str) -> str:
    """'-'-prefixed sort key → SQL ORDER BY item (matches
    ``operators.topk.sort_keys`` direction semantics)."""
    if key.startswith("-"):
        return f"{col_ref(key[1:])} DESC"
    return col_ref(key)


# -- SELECT-block composition -------------------------------------------------


def subquery(text: str, alias: str) -> str:
    """``text`` as an indented, aliased FROM item."""
    indented = "\n".join("  " + line for line in text.splitlines())
    return f"(\n{indented}\n) AS {alias}"


def with_alias(alias: str, text: str, query: str) -> str:
    """``query`` over ``text`` bound to the name ``alias`` (``sql(query:)``
    execution and rendering both use this). The query sits parenthesized
    on its own lines, so it may open with its own ``WITH`` and a trailing
    ``--`` comment cannot swallow the closing parenthesis."""
    query = query.rstrip().rstrip(";")
    return f"WITH {quote(alias)} AS (\n{text}\n)\n(\n{query}\n)"


def run_sql(spark, build, **frames: DataFrame) -> DataFrame:
    """``spark.sql`` over the text ``build`` returns, with ``frames`` as its
    inputs: ``build`` gets one input text per frame (the ``{name}``
    parameter, bound to a per-call view name), and every other brace in
    its text (quoted names, literals) is escaped for the formatter."""
    marks = {name: f"\0{name}\0" for name in frames}
    text = build(*(f"SELECT * FROM {m}" for m in marks.values()))
    text = text.replace("{", "{{").replace("}", "}}")
    for name, mark in marks.items():
        text = text.replace(mark, "{" + name + "}")
    return spark.sql(text, **frames)


class _Block:
    """One SELECT block being assembled; operators fold into free clause
    slots when SQL evaluation order matches the operator order, otherwise
    the block is wrapped as a subquery first."""

    def __init__(self, source: str, select: list[str] | None = None):
        self.source = source
        self.select: list[str] | None = select  # None = *
        self.where: list[str] = []
        self.group_by: str | None = None
        self.distinct = False
        self.order_by: list[str] = []
        self.limit: int | None = None
        self.offset: int = 0

    @property
    def plain(self) -> bool:
        """Only FROM/WHERE used — safe to fold a projection or grouping in."""
        return (
            self.select is None
            and self.group_by is None
            and not self.distinct
            and not self.order_by
            and self.limit is None
            and not self.offset
        )

    def render(self) -> str:
        head = "SELECT DISTINCT " if self.distinct else "SELECT "
        sql = head + (", ".join(self.select) if self.select is not None else "*")
        sql += f"\nFROM {self.source}"
        if self.where:
            sql += "\nWHERE " + " AND ".join(f"({w})" for w in self.where)
        if self.group_by is not None:
            sql += "\nGROUP BY " + self.group_by
        if self.order_by:
            sql += "\nORDER BY " + ", ".join(self.order_by)
        if self.limit is not None:
            sql += f"\nLIMIT {self.limit}"
        if self.offset:
            sql += f"\nOFFSET {self.offset}"
        return sql


class _Renderer:
    def __init__(self):
        self.n = 0

    def _sub(self, text: str) -> str:
        return self._named_sub(text)[0]

    def _named_sub(self, text: str) -> tuple[str, str]:
        self.n += 1
        alias = f"__s{self.n}"
        return subquery(text, alias), alias

    def wrap(self, block: _Block) -> _Block:
        return _Block(self._sub(block.render()))

    def render_dataset(self, ds) -> str:
        if getattr(ds, "_source", None) is None or getattr(ds, "_ops", None) is None:
            raise Unrenderable("dataset has no recorded SQL chain")
        block = _Block(ds._source)
        for name, df, kw in ds._ops:
            block = getattr(self, f"op_{name}")(block, df, **kw)
        return block.render()

    # -- operator renderers -------------------------------------------------

    def op_filter(self, block, df, pred: Column):
        if not block.plain:
            block = self.wrap(block)
        block.where.append(expr_sql(df, pred))
        return block

    def op_select(self, block, df, cols: Sequence[Any], out_df: DataFrame):
        if not block.plain or block.where:
            # a projection can drop/rename columns the pending WHERE reads;
            # keep evaluation order explicit
            block = self.wrap(block)
        if any(isinstance(c, str) and (c == "*" or c.endswith(".*")) for c in cols):
            # a star item expands to an input-dependent column list; even a
            # single-field "st.*" would render as a broken quoted identifier
            raise Unrenderable("select with star expansion is not renderable")
        if len(cols) != len(out_df.columns):
            raise Unrenderable("select item count does not match output columns")
        items = []
        for c, name in zip(cols, out_df.columns):
            if isinstance(c, str):
                # dotted strings are nested access (DataFrame.select("a.b")
                # reads field b), not a literal column name
                ref = table_ref(c) if "." in c else quote(c)
                items.append(ref if c == name else f"{ref} AS {quote(name)}")
            else:
                items.append(f"{expr_sql(df, c)} AS {quote(name)}")
        block.select = items
        return block

    def op_project(self, block, df, cols: dict[str, Column]):
        if not block.plain or block.where:
            block = self.wrap(block)
        existing = df.columns
        items = []
        for c in existing:
            if c in cols:
                items.append(f"{expr_sql(df, cols[c])} AS {quote(c)}")
            else:
                items.append(quote(c))
        for name, col in cols.items():
            if name not in existing:
                items.append(f"{expr_sql(df, col)} AS {quote(name)}")
        block.select = items
        return block

    def op_dropnull(self, block, df, subset, how: str):
        if not block.plain:
            block = self.wrap(block)
        types = dict(df.dtypes)
        cols = list(subset) if subset else list(types)
        # na.drop counts NaN as null in float and double columns
        conds = [
            f"({quote(c)} IS NOT NULL AND NOT isnan({quote(c)}))"
            if types.get(c) in ("float", "double")
            else f"{quote(c)} IS NOT NULL"
            for c in cols
        ]
        joiner = " AND " if how == "any" else " OR "
        block.where.append(joiner.join(conds))
        return block

    def op_fill(self, block, df, out_df: DataFrame):
        """``na.fill``'s affected-column logic lives inside Spark; read the
        coalesce projection it built from the analyzed result plan instead
        of re-deriving the dtype rules."""
        if not block.plain or block.where:
            block = self.wrap(block)
        plan = out_df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "Project":
            raise Unrenderable("na.fill did not produce a single projection")
        items = []
        columns = frozenset(df.columns)
        exprs = plan.projectList()
        for i in range(exprs.size()):
            e = exprs.apply(i)
            cls = e.getClass().getSimpleName()
            if cls == "Alias":
                sql = _fix_lambdas(_unqualified(e.child().sql(), columns))
                items.append(f"{sql} AS {quote(e.name())}")
            elif cls == "AttributeReference":
                items.append(quote(e.name()))
            else:
                raise Unrenderable(f"unexpected projection item {cls}")
        block.select = items
        return block

    def op_group(
        self, block, df, by: Sequence[str], aggcols: Sequence[Column], kind: str = "group"
    ):
        if not block.plain:
            block = self.wrap(block)
        keys = [col_ref(b) for b in by]
        if not aggcols and kind == "group":  # distinct key combinations
            block.select = keys
            block.distinct = True
            return block
        aggs = [f"{sql} AS {quote(name)}" for name, sql in agg_sqls(df, aggcols)]
        if not by:
            # zero keys: group/rollup/cube all reduce to the single
            # grand-total row (ROLLUP()/CUBE() is invalid Spark SQL)
            block.select = aggs
            return block
        block.select = keys + aggs
        if kind == "rollup":
            block.group_by = f"ROLLUP({', '.join(keys)})"
        elif kind == "cube":
            block.group_by = f"CUBE({', '.join(keys)})"
        else:
            block.group_by = ", ".join(keys)
        return block

    def op_order(self, block, df, by: Sequence[str], limit):
        if block.limit is not None or block.offset:
            block = self.wrap(block)
        block.order_by = [sort_item(k) for k in by]
        if limit is not None:
            block.limit = limit
        return block

    def op_runs(
        self, block, df, by: Sequence[str], order_by: Sequence[str],
        aggcols: Sequence[Column], split,
    ):
        """Adjacency grouping as SQL: change-point flags via LAG over the
        global sort, cumulative-sum into run ids, GROUP BY run (the
        reference's ``(c != lag(c)) -> or_ -> cumsum -> group`` semantics;
        the DataFrame path computes the same thing without the
        single-task global window — SQL text only has to be *correct*)."""
        if not block.plain or block.where:
            block = self.wrap(block)
        keys = ", ".join(sort_item(k) for k in order_by)
        changes = [
            f"NOT ({quote(c)} <=> LAG({quote(c)}) OVER (ORDER BY {keys}))" for c in by
        ]
        if split is not None:
            changes.append(f"COALESCE(({expr_sql(df, split)}), false)")
        block.select = ["*", "(" + " OR ".join(changes) + ") AS __chg"]
        block = self.wrap(block)
        block.select = [
            "*",
            "SUM(CASE WHEN __chg THEN 1 ELSE 0 END) OVER "
            f"(ORDER BY {keys} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS __run",
        ]
        block = self.wrap(block)
        keep = [f"first({quote(c)}) AS {quote(c)}" for c in by]
        aggs = [f"{sql} AS {quote(name)}" for name, sql in agg_sqls(df, aggcols)]
        block.select = keep + aggs
        block.group_by = "__run"
        block.order_by = ["__run"]
        return block

    def op_slice(self, block, df, offset: int, limit):
        if block.limit is not None or block.offset:
            block = self.wrap(block)
        block.offset = offset
        if limit is not None:
            block.limit = limit
        return block

    def op_unnest(self, block, df, name: str, offset, keep_empty: bool):
        if not block.plain or block.where:
            block = self.wrap(block)
        others = [quote(c) for c in df.columns if c != name]
        suffix = "_outer" if keep_empty else ""
        if offset:
            gen = f"POSEXPLODE{suffix}({quote(name)}) AS ({quote(offset)}, {quote(name)})"
        else:
            gen = f"EXPLODE{suffix}({quote(name)}) AS {quote(name)}"
        block.select = others + [gen]
        return block

    def op_unpack(self, block, df, names: Sequence[str]):
        if not block.plain or block.where:
            block = self.wrap(block)
        block.select = [
            f"{quote(c)}.*" if c in names else quote(c) for c in df.columns
        ]
        return block

    def op_text(self, block, df, build):
        """An operator written once as SQL text over its input text
        (``Dataset._run``): the same builder over the rendered input."""
        return _Block(self._sub(build(block.render())))

    # -- multi-table ---------------------------------------------------------

    def _right_text(self, right) -> str:
        return self.render_dataset(right)

    def _renamed(self, text: str, columns: Sequence[str], renames: dict[str, str]) -> str:
        if not renames:
            return text
        items = [
            f"{quote(c)} AS {quote(renames[c])}" if c in renames else quote(c)
            for c in columns
        ]
        return _Block(self._sub(text), select=items).render()

    def op_join(
        self, block, df, right, keys, rkeys, how: str, lmap: dict, rmap: dict,
        broadcast: bool,
    ):
        ltext = self._renamed(block.render(), df.columns, lmap)
        rtext = self._renamed(self._right_text(right), right.df.columns, rmap)
        lref, lname = self._named_sub(ltext)
        rref, rname = self._named_sub(rtext)
        jointype = {
            "inner": "JOIN", "left": "LEFT JOIN", "leftouter": "LEFT JOIN",
            "right": "RIGHT JOIN", "rightouter": "RIGHT JOIN",
            "outer": "FULL JOIN", "full": "FULL JOIN", "fullouter": "FULL JOIN",
            "semi": "LEFT SEMI JOIN", "leftsemi": "LEFT SEMI JOIN",
            "left_semi": "LEFT SEMI JOIN",
            "anti": "LEFT ANTI JOIN", "leftanti": "LEFT ANTI JOIN",
            "left_anti": "LEFT ANTI JOIN",
        }.get(how.replace("_", "").lower() if how else "inner")
        if jointype is None:
            raise Unrenderable(f"join type {how!r}")
        if list(keys) == list(rkeys):
            cond = "USING (" + ", ".join(quote(k) for k in keys) + ")"
        else:
            pieces = [
                f"{lname}.{quote(lmap.get(lk, lk))} = {rname}.{quote(rmap.get(rk, rk))}"
                for lk, rk in zip(keys, rkeys)
            ]
            cond = "ON " + " AND ".join(pieces)
        src = f"{lref} {jointype} {rref} {cond}"
        if broadcast:
            return _Block(self._sub(f"SELECT /*+ BROADCAST({rname}) */ *\nFROM {src}"))
        return _Block(src)

    def op_asof(self, block, df, right, on: str, kwargs: dict):
        """As-of join (reference ``asofJoin``, interface.py:354-383): the
        text of ``operators.asof.AsofSql``, the same text execution runs,
        over the rendered input subqueries. The keyless execution
        path fills in two phases to avoid a single-task global window — a
        *physical* optimization the SQL text doesn't have to reproduce
        (same precedent as op_runs)."""
        from graphique_spark.operators.asof import AsofSql

        try:
            spec = AsofSql(df, right.df, on, **kwargs)
        except ValueError as exc:
            raise Unrenderable(str(exc)) from exc
        if not spec.tiebreak:
            # without the greatest-payload tie-break the match among right
            # rows sharing (keys, on) is arbitrary — no SQL text can pin it
            raise Unrenderable("asof tie-break nondeterministic for unorderable payload")
        return _Block(self._sub(spec.sql(block.render(), self._right_text(right))))

    def op_cross(self, block, df, rights: Sequence):
        src = self._sub(block.render())
        for right in rights:
            src += f" CROSS JOIN {self._sub(self._right_text(right))}"
        return _Block(src)

    def op_union(self, block, df, rights: Sequence, distinct: bool):
        columns = df.columns
        parts = [block.render()]
        for right in rights:
            # unionByName: reorder each right side to the left's columns
            inner = _Block(
                self._sub(self._right_text(right)),
                select=[quote(c) for c in columns],
            )
            parts.append(inner.render())
        joined = "\nUNION ALL\n".join(f"({p})" for p in parts)
        out = _Block(self._sub(joined))
        out.distinct = distinct
        return out

    def op_setop(self, block, df, right, op: str, distinct: bool):
        word = {"intersect": "INTERSECT", "difference": "EXCEPT"}[op] + (
            "" if distinct else " ALL"
        )
        combined = f"({block.render()})\n{word}\n({self._right_text(right)})"
        return _Block(self._sub(combined))


def render(dataset) -> str:
    """Executable Spark SQL for ``dataset``'s recorded operator chain, or
    raise :class:`Unrenderable`."""
    return _Renderer().render_dataset(dataset)
