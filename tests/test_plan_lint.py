"""Plan lint: every suite query's physical plan is screened for the two
join shapes that destroy 100 TB runs — CartesianProduct and
BroadcastNestedLoopJoin — plus Python row-at-a-time evaluation
(BatchEvalPython). A new query that accidentally introduces one fails CI
here, not on the cluster. A source-level check keeps list-built frames
(Python-RDD scans) behind ``session.local_frame``, another keeps every
lineage cut (``persist``/``cache``/``checkpoint``) behind
``session.materialize``, and a third fails on a public function that only
tests reach.

Whitelist rationale:
* knn_join — deliberate bounded cross join (small broadcast query side);
  its scale path is knn_join_lsh.
* scalar one-row cross joins (corpus stats, normalizers) compile to
  BroadcastNestedLoopJoin with a 1-row build side — constant work. They
  are recognized by the build side being a one-row aggregate, but Spark's
  plan string doesn't expose cardinality, so queries known to use ONLY
  the one-row pattern are listed explicitly.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"

#: queries whose NLJ/cross is a deliberate bounded pattern (see module doc)
NLJ_WHITELIST = {
    "knn_join",           # bounded broadcast cross join by design
    "cross_join_dims",    # the crossJoin operator's own oracle query
    "similarity_topk",    # 1-row query-vector literal join
    "ab_test_welch",      # 1-row x 1-row arm join
    "temperature_sampling_shares",  # 1-row normalizer joins
    "dedup_savings_report",         # 1-row totals join
    "corpus_overlap_minhash",       # 1-row x 1-row signature join
    "balanced_shard_manifest",      # 1-row total join
    "histogram_equidepth",          # 1-row boundary-array join
    "quantile_multi",               # 1-row percentile-array join
    "sample_hash",                  # scalar threshold join
    "mixture_sample",               # 1-row rate-table join
    "q22_global_sales_opportunity", # 1-row average join
    "q14_promo_revenue",            # single-aggregate ratio
    "winsorize_clip",               # per-group bounds broadcast (tiny)
    "join_semi_anti",               # fused 1-row semi-count x anti-count
    "fill_drop_null",               # 1-row summary-count join
    "decontaminate_bloom",          # fixed-size bloom array rides a 1-row cross
    "data_quality_report",          # 1-row totals join (FK rule)
    "quantile_normalize_scores",    # 1-row global-percentile-array join
    "q15_top_supplier",             # 1-row scalar-max join
    "resample_interpolate",         # per-user bounds ride 1-row-per-key sequences
    "pack_efficiency",              # 1-row packing-rollup scalars
    "source_overlap_matrix",        # #groups-row signature self-join (non-equi
                                    # by design: every pair of ~20 sources)
    "hourly_seasonality",           # 1-row total join
    "similarity_ivf_trained",       # ground-truth side reuses knn_join's
                                    # bounded 8-row broadcast cross; the
                                    # IVF side under audit is an equi-join
}

#: e2e queries that RUN streaming jobs / write files when invoked — their
#: plan is the final read-back, not the interesting part; linting them
#: would execute multi-batch pipelines for nothing
SKIP = {
    "stream_upsert_totals",
    "stream_cdc_snapshot",
    "partition_roundtrip",
    "compact_roundtrip",
    "dedup_incremental",
    "similarity_ann_lsh",  # builds + probes a written index
    "source_catalog",
}


@pytest.fixture(scope="module")
def plans(spark):
    from graphique_spark.plans import plan_string
    from graphique_spark.suite import QUERIES
    import graphique_spark.suite_llm  # noqa: F401
    import graphique_spark.suite_streaming  # noqa: F401

    out = {}
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        out[name] = plan_string(fn(spark, SF_DIR))
        spark.catalog.clearCache()
    return out


def test_no_cartesian_products(plans):
    offenders = [
        name
        for name, plan in plans.items()
        if "CartesianProduct" in plan and name not in NLJ_WHITELIST
    ]
    assert not offenders, f"cartesian product in: {offenders}"


def test_no_unexpected_nested_loop_joins(plans):
    offenders = [
        name
        for name, plan in plans.items()
        if "BroadcastNestedLoopJoin" in plan and name not in NLJ_WHITELIST
    ]
    assert not offenders, f"nested-loop join in: {offenders}"


def test_no_python_row_udfs(plans):
    # ArrowEvalPython (pandas_udf / mapInPandas) is fine; BatchEvalPython
    # is the row-at-a-time path that must never appear
    offenders = [name for name, plan in plans.items() if "BatchEvalPython" in plan]
    assert not offenders, f"row-at-a-time Python eval in: {offenders}"


def test_driver_vector_scoring_runs_in_arrow_kernel(spark, tables):
    # cosine against driver-side vectors runs in the numpy mapInArrow
    # kernel, not as zip_with/aggregate HOFs over literal arrays. The JSON
    # form of the executed plan names every expression class.
    from graphique_spark.llm import similarity

    emb = tables["embeddings"].df
    qvec = [float(x) for x in emb.first()["embedding"]]
    cents = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(emb.take(4))]
    frames = {
        "ivf_topk": similarity.ivf_topk(emb, qvec, centroids=cents),
        "brute_force_topk": similarity.brute_force_topk(emb, qvec),
        "assign_clusters": similarity.assign_clusters(emb, centroids=cents),
    }
    for name, df in frames.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        assert "MapInArrow" in plan.toString(), name
        tree = plan.toJSON()
        assert "ZipWith" not in tree and "ArrayAggregate" not in tree, name


def _parsed(root, skip: str | None = None):
    """``(path, text, tree)`` of every ``.py`` file under ``root``, except
    under its top-level directory ``skip``."""
    import ast

    for path in sorted(root.rglob("*.py")):
        if skip is not None and path.relative_to(root).parts[0] == skip:
            continue
        text = path.read_text()
        yield path, text, ast.parse(text, filename=str(path))


def _calls_outside(function: str, attrs: set[str]) -> list[str]:
    """``file:line`` of every ``.attr(...)`` call in ``graphique_spark/``
    whose attribute is in ``attrs``, except inside ``session.<function>``."""
    import ast
    import pathlib

    import graphique_spark

    root = pathlib.Path(graphique_spark.__file__).parent
    offenders = []
    for path, _, tree in _parsed(root):
        allowed = set()
        if path == root / "session.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == function:
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in attrs
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    return offenders


def test_driver_rows_go_through_local_frame():
    # A frame built from a Python list by createDataFrame (or an RDD from
    # parallelize) scans a pickled Python RDD: every action starts a Python
    # worker. Its plan prints "Scan ExistingRDD", the same as a
    # localCheckpoint frame, so test_no_python_row_udfs cannot see it.
    # Source-level lint: only session.local_frame (Arrow -> LocalRelation)
    # may call createDataFrame, and nothing calls parallelize.
    offenders = _calls_outside("local_frame", {"createDataFrame", "parallelize"})
    assert not offenders, f"list-built frames outside local_frame: {offenders}"


def test_lineage_cuts_go_through_materialize():
    # A persisted frame stays in Spark's CacheManager until someone
    # unpersists it, and a lazy checkpoint fills its blocks inside the
    # first job that reads it, where several consumers of that one job can
    # each compute the plan. session.materialize is the one eager cut
    # whose blocks go with the frame; nothing else may persist, cache or
    # checkpoint.
    attrs = {"persist", "unpersist", "cache", "localCheckpoint", "checkpoint"}
    offenders = _calls_outside("materialize", attrs)
    assert not offenders, f"lineage cuts outside session.materialize: {offenders}"


#: public names in graphique_spark/ that nothing outside tests/ names, kept
#: on purpose
UNREACHED_KEEP = {
    "read_source": "SURVEY §2.1: a root may be any DataSource V2 or catalog table",
    "read_jdbc": "SURVEY §2.1: the reference's any-backend root maps to JDBC",
    "micros_to_time": "SURVEY §1.2: parquet TIME(MICROS) scans as int64; this decodes it",
    "time_to_micros": "the inverse that micros_to_time is checked against",
    "analyze": "README's plan-introspection API; the plan lint reads plans through it",
    "bmp_bytes": "the only input that reaches the live BMP decoder branch",
    "jpeg_bytes": "the only input that reaches the live JPEG decoder branch",
}


def _code_refs(tree):
    """Names, attribute names, imported names and ``__all__`` strings in
    ``tree``: the references code makes, not docstring or comment prose."""
    import ast
    import collections

    refs = collections.Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "__all__" for t in node.targets
        ):
            refs.update(
                c.value for c in ast.walk(node.value)
                if isinstance(c, ast.Constant) and isinstance(c.value, str)
            )
    return refs


def test_public_functions_are_reached_outside_tests():
    # A public function or class that only tests call is code the tests
    # keep alive. Each must be referenced by code in a .py file outside
    # tests/ (a name, an attribute, an import or an ``__all__`` registry
    # string; a docstring or comment mention does not count), other than
    # inside its own definition, or be registered as a suite query
    # (@query, or @partsupp_query for the partsupp shapes that join the
    # suite when the table ships).
    import ast
    import collections
    import pathlib

    import graphique_spark

    pkg = pathlib.Path(graphique_spark.__file__).parent
    refs = collections.Counter()
    defs = []
    for path, _, tree in _parsed(pkg.parent, skip="tests"):
        refs.update(_code_refs(tree))
        if not path.is_relative_to(pkg):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_") or any(
                isinstance(d, ast.Call)
                and getattr(d.func, "id", None) in {"query", "partsupp_query"}
                for d in node.decorator_list
            ):
                continue
            defs.append((node.name, _code_refs(node)[node.name]))
    unreached = {name for name, own in defs if refs[name] == own}
    assert unreached == set(UNREACHED_KEEP), (
        f"reached only from tests: {sorted(unreached - set(UNREACHED_KEEP))}; "
        f"stale keep entries: {sorted(set(UNREACHED_KEEP) - unreached)}"
    )


def test_plans_api_reports_and_asserts(spark, tables):
    # the lint's engine as a public API: analyze() counts the scale-killer
    # shapes and the exchanges
    from pyspark.sql import functions as F

    from graphique_spark import plans

    nation = tables["nation"].df
    orders = tables["orders"].df
    # an inequality-only join condition degrades to a nested loop
    bad = orders.join(F.broadcast(nation), orders["o_custkey"] > nation["n_nationkey"])
    assert plans.analyze(bad).broadcast_nested_loop_joins >= 1

    agg = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    report = plans.analyze(agg)
    assert report.exchanges >= 1 and report.scans == 1
    assert not (report.cartesian_products or report.broadcast_nested_loop_joins)

    # pushdown is visible in the report
    filt = orders.where(F.col("o_orderkey") == 7).select("o_orderkey")
    rep = plans.analyze(filt)
    assert any("o_orderkey" in p for p in rep.pushed_filters)


def test_plans_counts_roundrobin_exchanges(spark, tables):
    # repartition(n) emits Exchange RoundRobinPartitioning — a real
    # shuffle that the exchange count (and max_exchanges gates built on
    # it) must see
    from graphique_spark import plans

    rr = tables["orders"].df.repartition(8)
    assert plans.analyze(rr).exchanges == 1
