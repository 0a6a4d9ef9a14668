"""``session.materialize`` is the one lineage cut: eager, outside the
CacheManager, released with its frame. Every public operator that cuts
lineage must leave nothing behind once its result has been consumed and
dropped."""

import pytest
from pyspark.sql import functions as F

from conftest import assert_nothing_retained, settled_persistent_rdds

_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "the quick brown fox jumps over the lazy dog near the river bank again",
    "a completely different sentence about quantum lattice theorem proofs",
    "a completely different sentence about quantum lattice theorem proof",
    "buy cheap pills now winner winner prize claim your reward today",
    "short note",
]


def _docs(spark, offset=0):
    rows = [(offset + i, t, "a" if i % 2 else "b") for i, t in enumerate(_TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _series(spark):
    rows = [(i, i % 3, "x" if (i // 4) % 2 else "y", float(i)) for i in range(40)]
    return spark.createDataFrame(rows, "t long, k long, s string, v double")


def _minhash_candidates(spark):
    from graphique_spark.llm.dedup import minhash_candidates

    return minhash_candidates(_docs(spark), num_hashes=8, bands=4)


def _incremental_minhash_dedup(spark):
    from graphique_spark.llm.dedup import incremental_minhash_dedup, minhash_index

    index = minhash_index(_docs(spark), num_hashes=8, bands=4)
    return incremental_minhash_dedup(_docs(spark, 100), index, num_hashes=8, bands=4)


def _ngram_jaccard_prefix(spark):
    from graphique_spark.llm.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark), min_jaccard=0.3)


def _ngram_jaccard_blocked(spark):
    from graphique_spark.llm.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark), min_jaccard=0.3, block_by=F.col("source"))


def _containment_pairs(spark):
    from graphique_spark.llm.dedup import containment_pairs

    return containment_pairs(_docs(spark), min_containment=0.5)


def _edges(spark):
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _components_label(spark):
    from graphique_spark.llm import dedup

    # a cap of one edge sends the auto selection past the driver union-find
    cap = dedup._SMALL_GRAPH_EDGES
    dedup._SMALL_GRAPH_EDGES = 1
    try:
        return dedup.connected_components(_edges(spark))
    finally:
        dedup._SMALL_GRAPH_EDGES = cap


def _components_star(spark):
    from graphique_spark.llm import dedup

    edges = dedup._undirected_edges(_edges(spark), "id_a", "id_b")
    return dedup._star_components(edges, max_iterations=50)


def _phash_near_dups(spark):
    from graphique_spark.llm.multimodal import phash_near_dups

    rows = [(1, 0b1011), (2, 0b1010), (3, 1 << 40), (4, (1 << 40) | 1)]
    hashes = spark.createDataFrame(rows, "doc_id long, dhash long")
    return phash_near_dups(hashes, max_hamming=1, bands=4)


def _embedding_near_dups(spark):
    from graphique_spark.llm.similarity import embedding_near_dups

    rows = [(i, [1.0, 0.01 * i, -1.0 + 0.02 * i]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return embedding_near_dups(vecs, threshold=0.9, num_planes=2)


def _bm25_topk(spark):
    from graphique_spark.llm.text import bm25_topk

    return bm25_topk(_docs(spark), ["quick", "fox", "quantum"], k=3)


def _unigram_lm_scores(spark):
    from graphique_spark.llm.text import unigram_lm_scores

    return unigram_lm_scores(_docs(spark))


def _bigram_lm_scores(spark):
    from graphique_spark.llm.text import bigram_lm_scores

    return bigram_lm_scores(_docs(spark))


def _term_drift(spark):
    from graphique_spark.llm.text import term_drift

    return term_drift(_docs(spark), F.col("source") == "a", F.col("source") == "b")


def _dsir_log_weights(spark):
    from graphique_spark.llm.text import dsir_log_weights

    return dsir_log_weights(_docs(spark), F.col("source") == "a", buckets=64)


def _contaminated_docs_bloom(spark):
    from graphique_spark.llm.text import contaminated_docs_bloom

    bench = spark.createDataFrame([(0, _TEXTS[0])], "doc_id long, text string")
    return contaminated_docs_bloom(_docs(spark), bench, n=4, m_bits=1 << 12)


def _apply_cdc(spark):
    from graphique_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    log = spark.createDataFrame(
        [(2, "B", 1, "update"), (3, None, 2, "delete"), (4, "d", 3, "insert")],
        "k long, v string, seq long, op string",
    )
    return apply_cdc(base, log, keys=["k"])


def _pagerank(spark):
    from graphique_spark.operators.graph import pagerank

    rows = [(1, 2), (2, 3), (3, 1), (3, 4)]
    return pagerank(spark.createDataFrame(rows, "src long, dst long"), iterations=2)


def _skew_report(spark):
    from graphique_spark.operators.skew import skew_report

    return skew_report(_series(spark), ["k"], top=2)


def _with_row_index(spark):
    from graphique_spark.operators.sequence import with_row_index

    return with_row_index(spark.range(100, numPartitions=4))


def _with_run_ids(spark):
    from graphique_spark.operators.sequence import with_run_ids

    return with_run_ids(_series(spark), ["s"], ["t"])


def _partitioned_cumsum(spark):
    from graphique_spark.operators.sequence import partitioned_cumsum

    return partitioned_cumsum(_series(spark), F.col("v"), ["t"], "cum")


def _asof_join(spark):
    from graphique_spark.operators.asof import asof_join

    left = spark.createDataFrame([(t,) for t in range(0, 40, 3)], "t long")
    right = spark.createDataFrame([(t, f"r{t}") for t in range(0, 40, 5)], "t long, r string")
    # keyless: the two-phase global fill
    return asof_join(left, right, on="t")


def _run_pipeline(spark):
    from graphique_spark.pipeline import run_pipeline

    config = {
        "steps": [
            {"op": "exact_dedup"},
            {"op": "near_dedup", "num_hashes": 8, "bands": 4, "min_jaccard": 0.5},
            {"op": "dsir_select", "target": "source = 'a'", "buckets": 64},
        ]
    }
    curated, _ = run_pipeline(spark, _docs(spark), config)
    return curated


OPERATORS = {
    f.__name__.lstrip("_"): f
    for f in [
        _minhash_candidates,
        _incremental_minhash_dedup,
        _ngram_jaccard_prefix,
        _ngram_jaccard_blocked,
        _containment_pairs,
        _components_label,
        _components_star,
        _phash_near_dups,
        _embedding_near_dups,
        _bm25_topk,
        _unigram_lm_scores,
        _bigram_lm_scores,
        _term_drift,
        _dsir_log_weights,
        _contaminated_docs_bloom,
        _apply_cdc,
        _pagerank,
        _skew_report,
        _with_row_index,
        _with_run_ids,
        _partitioned_cumsum,
        _asof_join,
        _run_pipeline,
    ]
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_result_retains_nothing_once_dropped(spark, name):
    baseline = settled_persistent_rdds(spark, 0)
    out = OPERATORS[name](spark)
    out.collect()
    del out
    assert_nothing_retained(spark, baseline)


def test_materialize_is_eager_and_outside_the_cache_manager(spark):
    import uuid

    from graphique_spark.session import materialize

    sc = spark.sparkContext
    group = f"materialize-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "materialize runs its job at call time")
    try:
        cut = materialize(spark.range(50, numPartitions=2).withColumn("x", F.col("id") * 2))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    assert sc.statusTracker().getJobIdsForGroup(group)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert "LogicalRDD" in cut._jdf.queryExecution().optimizedPlan().toString()
    assert cut.agg(F.sum("x")).first()[0] == 2 * sum(range(50))
