"""LLM pipeline operators: dedup, similarity, text analysis, multimodal."""

import pytest
from pyspark.sql import functions as F

from graphique_spark.llm import dedup, multimodal, similarity, text

from conftest import slow_full


def test_exact_duplicates_finds_planted(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "unique one"), (3, "hello world"), (4, "hello world")],
        "doc_id long, text string",
    )
    out = dedup.exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["n_copies"] == 3
    assert out[0]["keep_id"] == 1


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world")], "doc_id long, text string"
    )
    fps = df.select(text.doc_fingerprint(F.col("text")).alias("f")).collect()
    assert fps[0]["f"] == fps[1]["f"]


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "idle")
    rows = [(1, base), (2, near), (3, "completely different text about spark engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.minhash_candidates(df, num_hashes=8, bands=4, min_jaccard=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(p != (1, 3) and p != (2, 3) for p in found)


def test_simhash_similar_texts_close(spark):
    base = "spark dataframes shuffle partitions aggregate " * 10
    near = base.replace("aggregate", "aggregates")
    far = "entirely unrelated words about cooking pasta recipes " * 10
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    fps = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id",
            dedup.simhash_fingerprint(dedup.char_shingles(F.col("text")), bits=16).alias("f"),
        ).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])


def test_ngram_jaccard_within_blocks(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x"), (3, "z y x w v u t s")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(
        df, block_by=F.lit(0), n=3, min_jaccard=0.3
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_brute_force_topk_self_first(tables):
    emb = tables["embeddings"].df
    qvec = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    top = similarity.brute_force_topk(emb, qvec, k=5).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-9)
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall(tables):
    emb = tables["embeddings"].df
    qvec = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, qvec, k=10).collect()}
    approx = {r["vec_id"] for r in similarity.lsh_ann_topk(emb, qvec, k=10, num_planes=3).collect()}
    # LSH bucket must contain the query itself and recall a reasonable share
    assert 7 in approx
    assert len(exact & approx) >= 3


def test_language_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "der Hund und die Katze ist das"),
            (3, "le chat et la maison les des"),
            (4, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", text.language_id(F.col("text")).alias("lang")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "  a b   c  "), (2, "")], "id long, text string")
    got = {r["id"]: r["n"] for r in df.select("id", text.token_count(F.col("text")).alias("n")).collect()}
    assert got == {1: 3, 2: 0}


def test_quality_score_range(tables):
    docs = tables["documents"].df
    scores = docs.select(text.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in scores)


def test_multimodal_decode_real_ppm(tables):
    import numpy as np

    docs = tables["documents"].df.limit(20).select("doc_id")
    decoded = multimodal.decode_images(multimodal.attach_image_blobs(docs))
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        d = r["doc_id"]
        w, h = 8 + d % 8, 8 + (d // 8) % 8
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["byte_len"] == len(multimodal.ppm_bytes(d, w, h))
        assert len(r["features"]) == 5
        # independent recompute of the decoded pixel stats
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        px = (x + y + c + d) % 256
        expect = [*(px.reshape(-1, 3).mean(axis=0) / 255.0), px.min() / 255.0, px.max() / 255.0]
        assert r["features"] == pytest.approx(expect, abs=1e-12)


def test_multimodal_malformed_blob_raises(spark):
    with pytest.raises(ValueError, match="not a P6 PPM"):
        multimodal.decode_ppm(b"")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_ppm(b"P6\n4 4\n255\nxx")


def test_decode_images_corrupt_blobs_skip_and_count(spark):
    # a 100 TB crawl always contains truncated/garbage blobs: strict mode
    # must fail loudly, skip_invalid must drop EXACTLY the bad rows and
    # leave the survivors' decoded values untouched
    good = [(d, multimodal.ppm_bytes(d, 8, 8)) for d in range(8)]
    bad = [(100, b"P6\n4 4\n255\nxx"), (101, b"\x00garbage")]  # truncated + wrong magic
    df = spark.createDataFrame(good + bad, "doc_id long, blob binary")
    with pytest.raises(Exception, match="PPM|magic"):
        multimodal.decode_images(df).collect()
    out = {r["doc_id"]: r for r in multimodal.decode_images(df, skip_invalid=True).collect()}
    assert sorted(out) == list(range(8))  # exactly the corrupt two dropped
    clean = {
        r["doc_id"]: r
        for r in multimodal.decode_images(
            spark.createDataFrame(good, "doc_id long, blob binary")
        ).collect()
    }
    for d in out:
        assert out[d]["features"] == clean[d]["features"]
    # dropped count audit: input count minus output count
    assert df.count() - len(out) == 2


def test_frame_sampling_real_container(tables):
    docs = tables["documents"].df.limit(5).select("doc_id")
    blobs = multimodal.attach_video_blobs(docs, n_frames=6)
    rows = multimodal.sample_frames(blobs, every=2).collect()
    assert len(rows) == 5 * 3  # frames 0, 2, 4 per doc
    assert all(r["frame_idx"] in (0, 2, 4) for r in rows)
    assert all(0.0 <= r["mean_px"] <= 1.0 for r in rows)


def test_ivf_topk_matches_brute_force_mostly(tables):
    emb = tables["embeddings"].df
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["vec_id"] for r in similarity.brute_force_topk(emb, qvec, k=5).collect()]
    approx = [r["vec_id"] for r in similarity.ivf_topk(emb, qvec, k=5).collect()]
    assert approx[0] == 0  # the query vector itself survives probing
    assert len(set(exact) & set(approx)) >= 2


def test_embedding_near_dups_finds_planted(spark):
    base = [1.0, 0.5, -0.25, 0.125] * 4
    near = [v + 0.001 for v in base]
    far = [(-1.0) ** i * (i + 1.0) for i in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<double>"
    )
    pairs = similarity.embedding_near_dups(df, threshold=0.99, num_planes=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_audio_decode_real_wav(tables):
    import numpy as np

    docs = tables["documents"].df.limit(10).select("doc_id")
    blobs = multimodal.attach_audio_blobs(docs)
    rows = multimodal.decode_audio(blobs).collect()
    assert len(rows) == 10
    for r in rows:
        fb = r["doc_id"] % 8 + 1
        s = (((np.arange(256) * fb) % 64) * 200 - 6400).astype(np.float64)
        assert (r["sample_rate"], r["n_samples"]) == (8000, 256)
        assert r["rms"] == pytest.approx(np.sqrt((s ** 2).mean()) / 32768.0, abs=1e-12)
        assert 0.0 <= r["zero_cross_rate"] <= 1.0


def test_knn_join_lsh_bucketed(tables):
    emb = tables["embeddings"].df.limit(60)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = similarity.knn_join(emb, queries, k=3)
    # full probe radius == exact: every bucket is probed
    full = similarity.knn_join_lsh(emb, queries, k=3, num_planes=3, probe_radius=3)
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    assert got == want
    # tight probe returns <= k per query, query itself always collides
    tight = similarity.knn_join_lsh(emb, queries, k=3, num_planes=3, probe_radius=0)
    per_query = {}
    for r in tight.collect():
        per_query.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid, ids in per_query.items():
        assert len(ids) <= 3 and qid in ids


def test_near_dups_auto_planes_scale(spark):
    import math

    base = [1.0, 0.5, -0.25, 0.125] * 4
    rows = [(i, [v + 0.000001 * i for v in base]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # auto-sizing: planes grow with n/target (here 64/8 -> >= 4 planes)
    pairs = similarity.embedding_near_dups(df, threshold=0.999999, target_bucket_rows=8)
    assert pairs.count() > 0  # near-identical vectors share every bucket
    assert similarity._py_bucket(base, [similarity._hyperplane(0, 16)]) in (0, 1)


def test_minhash_band_frequency_cap(spark):
    # identical boilerplate docs all share every band key; the cap drops
    # those hot keys so no candidate pairs emerge, while distinct near-dups
    # (below the cap) still pair up
    boiler = [(i, "the same license header text repeated verbatim") for i in range(10)]
    df = spark.createDataFrame(boiler, "doc_id long, text string")
    capped = dedup.minhash_candidates(df, max_band_freq=5)
    assert capped.count() == 0
    uncapped = dedup.minhash_candidates(df)
    assert uncapped.count() == 45  # all 10-choose-2 pairs


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {
        r["v"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0
    assert _cc_labels(pairs, "star") == {}


def _cc_labels(pairs, algorithm="auto", max_iterations=50):
    """Component labels from the auto selection, or straight from the
    label-propagation or star algorithm."""
    if algorithm == "auto":
        out = dedup.connected_components(pairs, max_iterations=max_iterations)
    else:
        run = {"label": dedup._label_components, "star": dedup._star_components}[algorithm]
        out = run(dedup._undirected_edges(pairs, "id_a", "id_b"), max_iterations)
    return {r["v"]: r["component"] for r in out.collect()}


CC_EDGES = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21), (21, 20)]
CC_EXPECTED = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_small_path_persists_nothing(spark):
    # the small-graph path collects its bounded edge sample straight off
    # the plan: no checkpoint job, no block left registered
    jsc = spark.sparkContext._jsc
    pairs = spark.createDataFrame(CC_EDGES, "id_a long, id_b long")
    before = jsc.getPersistentRDDs().size()
    out = dedup.connected_components(pairs)
    assert {r["v"]: r["component"] for r in out.collect()} == CC_EXPECTED
    assert jsc.getPersistentRDDs().size() == before
    plan = out._jdf.queryExecution().analyzed().getClass().getSimpleName()
    assert plan == "LocalRelation"


def test_connected_components_forced_distributed_matches_small(spark, monkeypatch):
    pairs = spark.createDataFrame(CC_EDGES, "id_a long, id_b long")
    small = _cc_labels(pairs)
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 2)  # 14 edges > cap
    forced = _cc_labels(pairs)
    assert small == forced == CC_EXPECTED


def test_connected_components_label_and_star_unchanged(spark):
    pairs = spark.createDataFrame(CC_EDGES, "id_a long, id_b long")
    assert _cc_labels(pairs, "label") == CC_EXPECTED
    assert _cc_labels(pairs, "star") == CC_EXPECTED
    strs = spark.createDataFrame(
        [(f"d{a:02d}", f"d{b:02d}") for a, b in CC_EDGES], "id_a string, id_b string"
    )
    want = {f"d{v:02d}": f"d{c:02d}" for v, c in CC_EXPECTED.items()}
    assert _cc_labels(strs) == _cc_labels(strs, "label") == want
    assert _cc_labels(strs, "star") == want


@slow_full  # ~110s (65 label rounds x shuffle jobs): star/auto coverage
# stays default via test_auto_mode_escalates_to_star_on_deep_chains and
# test_star_components_chain_round_count
def test_star_components_matches_label_propagation(spark):
    import random

    rng = random.Random(42)
    # random graph: a few dense clumps + isolated edges + a deep chain
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(60)]
    edges += [(100 + i, 100 + i + 1) for i in range(64)]  # 65-node chain
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    label = _cc_labels(pairs, "label", max_iterations=70)
    auto = _cc_labels(pairs)
    assert auto == label  # small-graph union-find fast path agrees
    star = _cc_labels(pairs, "star")
    assert star == label
    # the chain component resolves to its minimum id
    assert star[164] == 100


def test_star_components_chain_round_count(spark):
    # O(log n) rounds on a 65-node chain: 8 iterations must suffice
    # (min-label propagation would need ~64)
    edges = [(200 + i, 200 + i + 1) for i in range(64)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    comps = set(_cc_labels(pairs, "star", max_iterations=8).values())
    assert comps == {200}
    # and label propagation raises rather than silently mislabeling
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_labels(pairs, "label", max_iterations=8)


def test_auto_mode_escalates_to_star_on_deep_chains(spark, monkeypatch):
    # auto must be scale-safe UNATTENDED: over the small-graph cap, label
    # propagation gets a bounded round budget, then the O(log n) star path
    # takes over — a deep chain with max_iterations far below its diameter
    # must still resolve instead of raising "did not converge"
    edges = [(300 + i, 300 + i + 1) for i in range(64)]  # diameter 64
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 4)  # force past union-find
    monkeypatch.setattr(dedup, "_LABEL_ESCALATE_ROUNDS", 3)
    assert _cc_labels(pairs, max_iterations=12) == {300 + i: 300 for i in range(65)}
    # label propagation alone keeps the raise-on-divergence contract
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_labels(pairs, "label", max_iterations=12)


def test_prefix_jaccard_reliable_checkpoint(spark, tmp_path):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different content about spark clusters"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(
        df, n=2, min_jaccard=0.3, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert [(r["id_a"], r["id_b"]) for r in out.collect()] == [(1, 2)]
    # reliable checkpoint actually wrote to the configured dir
    assert any((tmp_path / "ckpt").iterdir())


def test_repetition_metrics(spark):
    rows = [
        # 4 non-empty lines, "dup dup" repeated: 2 duplicate lines of 4
        (1, "dup dup\nunique line here\ndup dup\n\ndup dup"),
        # no repetition at all
        (2, "every word here is completely different honestly"),
        # one word repeated 4 times: top 2-gram "go go" covers all 3 bigrams
        (3, "go go go go"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text.dup_line_fraction(F.col("text")).alias("lines"),
            text.dup_ngram_fraction(F.col("text"), 3).alias("g3"),
            text.top_ngram_fraction(F.col("text"), 2).alias("g2"),
        ).collect()
    }
    assert out[1]["lines"] == pytest.approx(2 / 4)
    assert out[2]["lines"] == 0.0
    assert out[2]["g3"] == 0.0
    assert out[2]["g2"] == pytest.approx(1 / 6)
    # doc 3: bigrams = [go go, go go, go go] -> 2 of 3 are dups, top covers all
    assert out[3]["g3"] == pytest.approx(1 / 2)
    assert out[3]["g2"] == pytest.approx(1.0)


def test_decontamination_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the secret benchmark question about spark internals")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "this doc leaks the secret benchmark question verbatim here"),
            (2, "totally unrelated content with no overlap whatsoever friend"),
        ],
        "doc_id long, text string",
    )
    out = text.contaminated_docs(corpus, bench, n=3).collect()
    assert [(r["doc_id"], r["n_shared"] > 0) for r in out] == [(1, True)]


def test_pii_redaction(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith@corp.io or +1 555-1234 at 192.168.0.1 now")],
        "doc_id long, text string",
    )
    counts = text.pii_counts(F.col("text"))
    row = df.select(
        text.redact_pii(F.col("text")).alias("red"),
        counts["n_email"].alias("e"), counts["n_phone"].alias("p"),
        counts["n_ipv4"].alias("i"),
    ).first()
    assert row["red"] == "mail [EMAIL] or [PHONE] at [IPV4] now"
    assert (row["e"], row["p"], row["i"]) == (1, 1, 1)


def test_duplicate_segments_flags_boilerplate(spark):
    seg = "one two three four five six seven eight nine ten"
    rows = [
        (1, seg + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, seg + " unique content here that no other document shares at all"),
        (3, "totally different words " * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.duplicate_segments(df, seg_words=10).collect()}
    # docs 1 and 2 share their first 10-word segment
    assert out[1]["n_dup_segments"] == 1 and out[2]["n_dup_segments"] == 1
    assert out[3]["n_dup_segments"] == 0
    assert out[1]["dup_fraction"] == pytest.approx(0.5)


def test_hll_sketches_accuracy_and_merge(tables):
    from graphique_spark.operators import sketch

    lineitem = tables["lineitem"].df
    per_group = sketch.hll_sketches(lineitem, "l_partkey", by=["l_returnflag"])
    exact_total = lineitem.select("l_partkey").distinct().count()
    merged = sketch.hll_merge(per_group).first()
    assert merged["estimate"] == pytest.approx(exact_total, rel=0.05)
    exact_by = {
        r["l_returnflag"]: r["n"]
        for r in lineitem.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    for r in per_group.collect():
        assert r["estimate"] == pytest.approx(exact_by[r["l_returnflag"]], rel=0.05)


def test_word_entropy_orders_repetitive_text_lower(spark):
    import math

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "eight totally distinct words appear exactly once here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.word_entropy(df).collect()}
    assert out[1]["entropy"] == pytest.approx(0.0, abs=1e-12)
    assert out[2]["entropy"] == pytest.approx(math.log(8), rel=1e-9)
    assert out[1]["entropy"] < out[2]["entropy"]
    assert out[2]["n_unique_words"] == 8 and out[2]["n_words"] == 8


def test_weighted_sample_matches_independent_recompute(tables):
    import hashlib

    import numpy as np

    docs = tables["documents"].df.select("doc_id", "n_chars")
    got = {
        r["doc_id"]
        for r in text.weighted_sample(docs, 50, F.col("n_chars")).collect()
    }
    rows = docs.collect()
    ids = np.array([r["doc_id"] for r in rows])
    w = np.array([r["n_chars"] for r in rows], dtype=np.float64)
    u = np.array(
        [int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) + 1 for i in ids],
        dtype=np.float64,
    ) / float(2**60)
    keys = u ** (1.0 / w)
    expect = set(ids[np.argsort(-keys)][:50].tolist())
    assert got == expect
    # heavier docs are overrepresented vs a uniform sample
    assert np.mean([r["n_chars"] for r in rows if r["doc_id"] in got]) > w.mean()


def _plan(df):
    from pyspark.sql import DataFrame

    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pii_redaction_is_map_only(tables):
    # redaction + counts must stay inside whole-stage codegen with no
    # shuffle: one scan, one project, zero Exchange nodes
    docs = tables["documents"].df.select("doc_id", "text")
    counts = text.pii_counts(F.col("text"))
    out = docs.select(
        "doc_id", text.redact_pii(F.col("text")).alias("red"), *counts.values()
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "codegen id" in plan


def test_weighted_sample_uses_topk_not_global_sort(tables):
    docs = tables["documents"].df.select("doc_id", "n_chars")
    out = text.weighted_sample(docs, 50, F.col("n_chars"))
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage


def test_duplicate_segments_single_wide_exchange_pair(tables):
    # segment freq join: the only shuffles are the (seg) aggregation and
    # the per-doc rollup — no cartesian, no broadcast of the corpus
    docs = tables["documents"].df.select("doc_id", "text")
    plan = _plan(dedup.duplicate_segments(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_kll_quantile_sketches_accuracy_and_merge(tables):
    from graphique_spark.operators import sketch

    li = tables["lineitem"].df
    per_group = sketch.kll_quantiles(
        li, "l_extendedprice", by=["l_returnflag"], q=(0.5, 0.99)
    )
    exact = {
        r["l_returnflag"]: r["qs"]
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.99))).alias("qs"))
        .collect()
    }
    for r in per_group.collect():
        e50, e99 = exact[r["l_returnflag"]]
        assert r["q50"] == pytest.approx(e50, rel=0.05)
        assert r["q99"] == pytest.approx(e99, rel=0.05)
    # drill-up: merged sketches estimate the global median without rescan
    [merged] = sketch.kll_merge_quantiles(per_group, q=(0.5,)).collect()
    [[global_p50]] = li.agg(F.percentile("l_extendedprice", F.array(F.lit(0.5)))).collect()
    assert merged["q50"] == pytest.approx(global_p50[0] if isinstance(global_p50, list) else global_p50, rel=0.05)


def test_kmeans_centroids_beat_hash_sampled(spark):
    # fit_centroids (Spark ML KMeans) must beat the deterministic hash
    # sample on both IVF recall@10 and mean centroid affinity — the reason
    # the centroids= parameter exists. sf0.01 for a meaningful neighborhood
    # structure; everything seeded, so the comparison is deterministic.
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    km = similarity.fit_centroids(emb, k=16, seed=0)
    assert len(km) == 16 and all(len(v) == 64 for _, v in km)

    qrows = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter(F.col("vec_id").isin([3, 57, 101, 205, 399])).collect()
    }

    def recall(centroids):
        hits = 0
        for qv in qrows.values():
            exact = {
                x["vec_id"]
                for x in similarity.brute_force_topk(emb, qv, k=10).collect()
            }
            approx = {
                x["vec_id"]
                for x in similarity.ivf_topk(
                    emb, qv, k=10, num_centroids=16, nprobe=2, centroids=centroids
                ).collect()
            }
            hits += len(exact & approx)
        return hits / (10 * len(qrows))

    r_km, r_hash = recall(km), recall(None)
    assert r_km > r_hash  # observed 0.5 vs 0.3
    assert r_km >= 0.4

    cos_km = (
        similarity.assign_clusters(emb, num_clusters=16, centroids=km)
        .agg(F.avg("cos_to_centroid")).first()[0]
    )
    cos_hash = (
        similarity.assign_clusters(emb, num_clusters=16)
        .agg(F.avg("cos_to_centroid")).first()[0]
    )
    assert cos_km > cos_hash  # observed 0.327 vs 0.245


def test_multimodal_bmp_decodes_like_ppm(spark):
    # BMP carries the same gradient as PPM (through BGR bottom-up raster +
    # row padding), so decoded stats must be identical per (seed, w, h)
    df = spark.createDataFrame([(int(i),) for i in range(20)], "doc_id long")

    def attach(fmt_fn):
        import pandas as pd

        def batches(it):
            for pdf in it:
                pdf = pdf.copy()
                pdf["blob"] = [fmt_fn(int(d), 9 + int(d) % 5, 7 + int(d) % 3) for d in pdf["doc_id"]]
                yield pdf

        return df.mapInPandas(batches, schema="doc_id long, blob binary")

    def stats(blobs):
        return {
            r["doc_id"]: (r["width"], r["height"], [round(f, 12) for f in r["features"]])
            for r in multimodal.decode_images(blobs).collect()
        }

    assert stats(attach(multimodal.bmp_bytes)) == stats(attach(multimodal.ppm_bytes))


def test_multimodal_jpeg_gate():
    import pytest

    jpeg_magic = b"\xff\xd8\xff\xe0" + b"\x00" * 16
    if multimodal.pillow_available():
        blob = multimodal.jpeg_bytes(3, 16, 16)
        w, h, pixels = multimodal.decode_image_blob(blob)
        assert (w, h) == (16, 16)
        # lossy codec: gradient mean survives approximately
        import numpy as np

        expect = ((np.arange(16)[None, :, None] + np.arange(16)[:, None, None]
                   + np.arange(3)[None, None, :] + 3) % 256).mean()
        assert abs(pixels.mean() - expect) < 8.0
    else:
        with pytest.raises(ValueError, match="requires Pillow"):
            multimodal.decode_image_blob(jpeg_magic)


def test_multimodal_unknown_magic_raises():
    import pytest

    with pytest.raises(ValueError, match="unrecognized image magic"):
        multimodal.decode_image_blob(b"GIF89a too exotic")


def test_incremental_minhash_matches_full_batch(spark, tables, tmp_path):
    # dedup-new-batch-vs-persisted-index must equal the cross-boundary
    # subset of the full-corpus candidate pairs (same signatures, same
    # bands), including after an index parquet round-trip
    docs = tables["documents"].df
    split = 40
    existing = docs.filter(F.col("doc_id") < split)
    batch = docs.filter(F.col("doc_id") >= split)

    idx_path = str(tmp_path / "minhash_index")
    dedup.minhash_index(existing).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    got = {
        (r["new_id"], r["index_id"]): round(r["jaccard"], 12)
        for r in dedup.incremental_minhash_dedup(batch, index).collect()
    }
    full = dedup.minhash_candidates(docs).collect()
    expect = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if (a < split) != (b < split):
            new_id, index_id = (b, a) if a < split else (a, b)
            expect[(new_id, index_id)] = round(r["jaccard"], 12)
    assert got == expect
    assert len(got) > 0  # the fixture corpus must actually exercise this


def test_bloom_decontamination_matches_exact(tables):
    # the Bloom prefilter must not change results (false positives die in
    # the verify join), across bitmap sizes incl. a tiny high-fpp one
    docs = tables["documents"].df
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in text.contaminated_docs(corpus, bench, n=3).collect()
    }
    assert exact  # fixture must exercise overlap
    for m_bits in (1 << 12, 1 << 18):
        got = {
            (r["doc_id"], r["n_shared"])
            for r in text.contaminated_docs_bloom(
                corpus, bench, n=3, m_bits=m_bits
            ).collect()
        }
        assert got == exact


def test_build_bloom_no_false_negatives(spark):
    members = spark.range(500).select((F.col("id") * 7919).alias("h"))
    bitmap = text.build_bloom(members, "h", m_bits=1 << 14, k=3)
    bf = spark.createDataFrame([(bitmap,)], "bf array<bigint>")
    misses = (
        members.crossJoin(F.broadcast(bf))
        .filter(~text.bloom_might_contain(F.col("h"), F.col("bf"), 1 << 14, 3))
        .count()
    )
    assert misses == 0  # bloom filters never false-negative


def test_pack_sequences_offsets_and_bins(spark):
    df = spark.createDataFrame(
        [(0, "a " * 100), (1, "b " * 100), (2, "c " * 100), (3, ""), (4, "d " * 300)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.pack_sequences(df, capacity=128).collect()}
    assert [got[i]["token_offset"] for i in range(5)] == [0, 100, 200, 300, 300]
    assert got[0]["bin_first"] == 0 and got[0]["bin_last"] == 0
    assert got[1]["bin_first"] == 0 and got[1]["bin_last"] == 1  # straddles 128
    assert got[3]["n_tokens"] == 0 and got[3]["bin_first"] == got[3]["bin_last"] == 2
    assert got[4]["bin_first"] == 2 and got[4]["bin_last"] == 4  # 300..600 spans 3 bins
    # bins partition the token stream: every bin up to the max is covered
    covered = set()
    for r in got.values():
        covered.update(range(r["bin_first"], r["bin_last"] + 1))
    assert covered == set(range(5))


def test_mixture_sample_hits_targets(spark, tables):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    weights = {"en": 8.0, "de": 3.0, "fr": 3.0, "es": 3.0, "zh": 3.0}
    kept = text.mixture_sample(docs, weights, by="lang")
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    # hash thresholds only approximate the target shares; ±35% relative
    for lang, w in weights.items():
        assert abs(counts[lang] / total - w / 20.0) < 0.35 * (w / 20.0)
    # deterministic: same rows both runs
    again = {r["lang"]: r["n"] for r in text.mixture_sample(docs, weights, by="lang").groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == counts
    import pytest

    with pytest.raises(ValueError, match="no target weight"):
        text.mixture_sample(docs, {"en": 1.0}, by="lang")


def test_canonical_pick_priority_and_ties(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "v long, component long"
    )
    attrs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)], "doc_id long, n_chars long"
    )
    rows = {r["doc_id"]: r for r in dedup.canonical_pick(comps, attrs).collect()}
    # comp 1: 2 and 3 tie on n_chars=9 -> smaller id 2 wins over 3, beats 1
    assert rows[1]["keep_id"] == 2 and rows[1]["is_duplicate"]
    assert rows[2]["keep_id"] == 2 and not rows[2]["is_duplicate"]
    assert rows[3]["is_duplicate"]
    # comp 10: pure tie -> min id
    assert rows[10]["keep_id"] == 10 and not rows[10]["is_duplicate"]
    assert rows[11]["keep_id"] == 10 and rows[11]["is_duplicate"]


def test_substring_duplicates_flags_partial_overlap(spark):
    from graphique_spark.llm.dedup import substring_duplicates

    shared = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, "AAA " * 20 + shared),          # shares a window with doc 2
        (2, shared + " BBB" * 20),          # ...but is otherwise different
        (3, "totally unrelated content " * 5),
        (4, "x"),                           # shorter than one window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_duplicates(df, window=20, stride=5)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2}
    assert all(r["n_dup_windows"] >= 1 for r in got.values())
    assert all(0 < r["dup_fraction"] <= 1 for r in got.values())


def test_substring_duplicates_short_doc_whole_text_window(spark):
    from graphique_spark.llm.dedup import substring_duplicates

    # docs shorter than the window fall back to one whole-text window:
    # exact short dupes still collide, distinct shorts don't
    df = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny"), (3, "other")], "doc_id long, text string"
    )
    out = {r["doc_id"] for r in substring_duplicates(df, window=60, stride=20).collect()}
    assert out == {1, 2}


def test_minhash_no_shingle_recompute_in_plan(spark, tables):
    """Catalyst regression guard: pruning/collapse under the band-key
    explode must NOT inline the shingle-hash derivation into each minhash
    transform (it once did, re-shingling every doc num_hashes times — a
    12x wall regression). The expensive text->shingles chain must appear
    exactly once per side of the pair join."""
    from graphique_spark.llm.dedup import minhash_candidates

    docs = tables["documents"].df
    pairs = minhash_candidates(docs, num_hashes=16, bands=4, min_jaccard=0.5)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the full query reads documents on several independent branches
    # (banded left/right + two hash-set verify sides); each branch may
    # shingle once, never 16x
    assert plan.count("length(text") <= 4


def _column_signatures(df, k, num_hashes, carry):
    """The MinHash signature frame written with Column expressions: the
    public shingle and hash helpers and one ``transform`` lambda per
    affine permutation."""
    df = dedup.ensure_parallelism(df.where(F.col("text").isNotNull()))
    hashed = F.array_distinct(
        F.transform(dedup.char_shingles(F.col("text"), k), lambda s: dedup.hash60(s))
    )
    mins = [
        F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (F.lit(a) * (h % dedup.MERSENNE) + F.lit(b)) % dedup.MERSENNE,
            )
        ).alias(f"m{i}")
        for i, (a, b) in ((i, dedup._affine(i)) for i in range(num_hashes))
    ]
    return df.select(F.col("doc_id").alias("id"), *carry, hashed.alias("hs")).select(
        "id", *carry, "hs", *mins
    )


def _column_band_keys(num_hashes, bands):
    rows = num_hashes // bands
    return F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"m{b * rows + r}") for r in range(rows)]))
            for b in range(bands)
        ]
    )


def _assert_same_frame(got, want):
    got_plan = got._jdf.queryExecution().optimizedPlan()
    assert got_plan.sameResult(want._jdf.queryExecution().optimizedPlan())
    assert got.schema == want.schema
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_minhash_signatures_same_plan_as_column_helpers(spark):
    # the signature and band-key projections give the optimized plan, the
    # schema and the rows of the same math written as Column expressions,
    # including NULL, empty and shorter-than-k text and carried columns
    # whose names need quoting
    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base, "web", 0),
        (2, base.replace("lazy", "idle"), "web", 1),
        (3, None, "books", 2),
        (4, "abc", "books", 3),
        (5, "", "code", 4),
        (6, "completely different text about spark engines", "code", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, `src.name` string, `n``x` int")
    carry = ["`src.name`", "`n``x`"]
    for k, num_hashes, bands in ((5, 8, 4), (3, 6, 2)):
        want = _column_signatures(df, k, num_hashes, carry)
        got = dedup._signatures(df, "text", "doc_id", k, num_hashes, carry=carry)
        assert got.columns[:3] == ["id", "src.name", "n`x"]
        _assert_same_frame(got, want)
        ref = _column_signatures(df, k, num_hashes, [])
        _assert_same_frame(
            dedup.minhash_index(df, k=k, num_hashes=num_hashes, bands=bands),
            ref.select("id", "hs", _column_band_keys(num_hashes, bands).alias("band_keys")),
        )


def test_minhash_build_cost_flat_in_num_hashes(spark, py4j_calls):
    # the affine mins and band keys are SQL text, one py4j call per
    # projection plus one per list element: a hash function adds one
    # command, not a Column tree (as Column trees the build took 2,050 /
    # 3,026 / 5,182 commands at 8 / 16 / 32 hashes)
    rows = [(1, "alpha beta gamma"), (2, "alpha beta delta"), (3, "x y z"), (4, "q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.schema  # noqa: B018 -- resolve the input schema before counting

    def build(num_hashes):
        start = py4j_calls.n
        dedup.minhash_candidates(df, num_hashes=num_hashes, bands=4)
        return py4j_calls.n - start

    build(8)  # first build: one-time lookups
    n8, n16, n32 = build(8), build(16), build(32)
    assert n32 <= 1.1 * n8
    assert n16 <= 1000


def _column_corpus(df, num_hashes):
    """The corpus signature frames written with Column expressions: per-hash
    ``min`` aggregates, renaming projections and a Python ``sum`` of
    ``==`` terms. Returns (single-pass overlap, matrix)."""

    def match(a, b):
        matches = sum((F.col(f"{a}{i}") == F.col(f"{b}{i}")).cast("long") for i in range(num_hashes))
        return matches.alias("n_matches"), (matches / F.lit(float(num_hashes))).alias("jaccard_est")

    in_a, in_b = F.col("source") == "web", F.col("source") != "web"
    base = dedup.ensure_parallelism(
        df.where(in_a | in_b).select(in_a.alias("__a"), in_b.alias("__b"), F.col("text").alias("__t"))
    )
    hashed = F.array_distinct(F.transform(dedup.char_shingles(F.col("__t"), 5), dedup.hash60))
    sigs = base.select("__a", "__b", hashed.alias("hs")).selectExpr(
        "__a", "__b", *dedup._minhash_sql(num_hashes)
    )
    single = sigs.agg(
        *[F.min(F.when(F.col("__a"), F.col(f"m{i}"))).alias(f"m{i}") for i in range(num_hashes)],
        *[F.min(F.when(F.col("__b"), F.col(f"m{i}"))).alias(f"n{i}") for i in range(num_hashes)],
    ).select(*match("m", "n"))

    per_doc = dedup._signatures(
        df.select(F.col("source").alias("__grp"), "doc_id", "text"), "text", "doc_id", 5, num_hashes,
        carry=["__grp"],
    )
    per_grp = per_doc.groupBy("__grp").agg(*[F.min(f"m{i}").alias(f"m{i}") for i in range(num_hashes)])
    a = per_grp.select(F.col("__grp").alias("src_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)])
    b = per_grp.select(F.col("__grp").alias("src_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)])
    matrix = a.join(b, a["src_a"] < b["src_b"]).select("src_a", "src_b", *match("a", "b"))
    return single, matrix


def test_corpus_signatures_same_plan_as_column_helpers(spark):
    # the corpus min aggregates and match sums written as SQL text give the
    # optimized plan, the schema and the rows of the Column-built frames
    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base, "web"),
        (2, base.replace("lazy", "idle"), "web"),
        (3, None, "books"),
        (4, "abc", "books"),
        (5, "", "code"),
        (6, "completely different text about spark engines", "code"),
        (7, base, "code"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    web, rest = F.col("source") == "web", F.col("source") != "web"
    for num_hashes in (8, 3):
        got = (
            dedup.corpus_overlap_single_pass(df, web, rest, num_hashes=num_hashes),
            dedup.corpus_overlap_matrix(df, by="source", num_hashes=num_hashes),
        )
        for frame, want in zip(got, _column_corpus(df, num_hashes)):
            plan = frame._jdf.queryExecution().optimizedPlan()
            assert plan.sameResult(want._jdf.queryExecution().optimizedPlan())
            assert frame.schema == want.schema
            assert sorted(frame.collect()) == sorted(want.collect())


def test_corpus_overlap_build_cost_flat_in_num_hashes(spark, py4j_calls):
    # the min aggregates and the match sum are one SQL statement: past the
    # signature projection, a hash function adds no py4j command (as Column
    # trees the matrix build took 1,448 / 2,472 / 4,520 commands at 8 / 16
    # / 32 hashes)
    rows = [(1, "alpha beta gamma", "web"), (2, "alpha beta delta", "web"), (3, "x y z", "code")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    df.schema  # noqa: B018 -- resolve the input schema before counting
    web, rest = F.col("source") == "web", F.col("source") != "web"

    def build(fn, num_hashes):
        start = py4j_calls.n
        fn(num_hashes)
        return py4j_calls.n - start

    for fn in (
        lambda n: dedup.corpus_overlap_matrix(df, by="source", num_hashes=n),
        lambda n: dedup.corpus_overlap_single_pass(df, web, rest, num_hashes=n),
    ):
        build(fn, 8)  # first build: one-time lookups
        n8, n32 = build(fn, 8), build(fn, 32)
        assert n32 <= 1.1 * n8


@pytest.mark.parametrize(
    "params, match",
    [
        ({"num_hashes": 0}, "num_hashes"),
        ({"num_hashes": -4}, "num_hashes"),
        ({"k": 0}, "k="),
        ({"k": -3}, "k="),
        ({"bands": 0}, "bands"),
    ],
)
def test_minhash_rejects_degenerate_parameters(spark, params, match):
    # num_hashes=0 made every band key md5('') and k < 1 every shingle set
    # equal, so all pairs of unrelated docs came back at jaccard 1.0;
    # bands=0 divided by zero. Each is refused before any job runs.
    rows = [(1, "alpha"), (2, "beta gamma"), (3, "delta"), (4, "epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match=match):
        dedup.minhash_candidates(df, **params)
    with pytest.raises(ValueError, match=match):
        dedup.minhash_index(df, **params)
    if "bands" not in params:
        with pytest.raises(ValueError, match=match):
            dedup.corpus_overlap_single_pass(df, F.lit(True), F.lit(True), **params)
    if "k" in params:
        with pytest.raises(ValueError, match=match):
            dedup.char_shingles(F.col("text"), params["k"])


def test_bm25_ranks_matching_docs_first(spark):
    rows = [
        (1, "spark spark spark engine"),
        (2, "spark engine"),
        (3, "nothing relevant here at all"),
        (4, "a much longer document that mentions spark exactly once among many many other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.bm25_topk(df, ["spark"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # no query term, no score
    assert ids[0] == 1  # highest tf, short doc
    # length normalization: doc 2 (short) beats doc 4 (long) at equal tf
    assert ids.index(2) < ids.index(4)


def test_unigram_lm_rare_tokens_score_higher_nll(spark):
    common = "the the the the cat cat"
    rare = "zyzzyva qwertyuiop"
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, rare)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["nll"] for r in text.unigram_lm_scores(df).collect()}
    assert out[3] > out[1]  # rare vocabulary = higher perplexity
    assert out[1] == pytest.approx(out[2])


def test_bigram_lm_catches_shuffled_word_order(spark):
    # the discriminative property unigrams can't have: both docs use the
    # SAME common vocabulary, so unigram NLL ties, but the shuffled doc's
    # bigrams are rare -> bigram NLL separates them
    fluent = "the cat sat on the mat " * 5
    shuffled = "mat the on sat the cat " * 5
    corpus = [(i, fluent) for i in range(9)] + [(9, shuffled)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    uni = {r["doc_id"]: r["nll"] for r in text.unigram_lm_scores(df).collect()}
    assert uni[9] == pytest.approx(uni[0])  # unigram model is blind to order
    bi = {r["doc_id"]: r["nll"] for r in text.bigram_lm_scores(df).collect()}
    assert bi[9] > bi[0] + 0.5  # bigram model separates cleanly
    # fewer-than-2-token docs drop out instead of emitting NaN
    tiny = spark.createDataFrame([(1, "word"), (2, "")], "doc_id long, text string")
    assert text.bigram_lm_scores(tiny).count() == 0


def test_ivf_knn_join_recall_and_full_probe_exactness(tables):
    emb = tables["embeddings"].df
    qs = emb.filter(F.col("vec_id") < 8)
    truth = similarity.knn_join(emb, qs, k=3)
    cents = similarity.fit_centroids(emb, 16, max_iter=8, seed=0)
    approx = similarity.ivf_knn_join(emb, qs, cents, k=3, nprobe=8)
    n_hit = truth.join(approx, on=["query_id", "vec_id"], how="left_semi").count()
    assert n_hit / truth.count() >= 0.9  # recall@3 probing half the cells
    # probing EVERY cell must reproduce the exact join bit-for-bit
    full = similarity.ivf_knn_join(emb, qs, cents, k=3, nprobe=16)
    t = {(r["query_id"], r["vec_id"]) for r in truth.collect()}
    f = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    assert t == f


def test_empty_corpus_edge_cases(spark):
    # plan-build scalar aggregates (corpus stats, vocabulary size, sampled
    # centroids, vector dim) must short-circuit empty inputs into typed
    # empty frames, not crash on None arithmetic — the same bug class as
    # pagerank/skew_report (round-5 ADVICE), swept across the llm surface
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")

    uni = text.unigram_lm_scores(empty_docs)
    assert uni.count() == 0
    assert [f.name for f in uni.schema.fields] == ["doc_id", "n_tokens", "nll"]
    bi = text.bigram_lm_scores(empty_docs)
    assert bi.count() == 0
    assert [f.name for f in bi.schema.fields] == ["doc_id", "n_bigrams", "nll"]
    bm = text.bm25_topk(empty_docs, ["spark"], k=5)
    assert bm.count() == 0
    assert [f.name for f in bm.schema.fields] == ["doc_id", "score"]
    nd = similarity.embedding_near_dups(empty_emb)
    assert nd.count() == 0
    assert [f.name for f in nd.schema.fields] == ["id_a", "id_b", "cosine"]
    ivf = similarity.ivf_topk(empty_emb, [0.0] * 4, k=5)
    assert ivf.count() == 0
    assert [f.name for f in ivf.schema.fields] == ["vec_id", "cosine"]


def test_empty_corpus_sampling_and_drift(spark):
    # second sweep of the plan-build-scalar class: sampling/drift helpers
    empty_src = spark.createDataFrame([], "doc_id long, source string")
    out = text.mixture_sample(empty_src, {"a": 1.0})
    assert out.count() == 0 and "__threshold" in out.columns
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    drift = text.term_drift(empty_docs, F.lit(True), F.lit(False))
    assert drift.count() == 0
    assert [f.name for f in drift.schema.fields] == [
        "term", "ca", "cb", "p_a", "p_b", "kl_term",
    ]
    empty_w = spark.createDataFrame([], "doc_id long, n long")
    assert text.balanced_shards(empty_w, 2, "n").count() == 0
    # weight accepts a Column as well as a name
    one = text.balanced_shards(
        spark.createDataFrame([(1, 5)], "doc_id long, n long"), 2, F.col("n")
    )
    assert one.count() == 1


def test_assign_split_deterministic_and_proportional(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    split = df.withColumn("s", text.assign_split(F.col("doc_id"), (0.8, 0.1, 0.1)))
    counts = {r["s"]: r["n"] for r in split.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / 20000 == pytest.approx(0.8, abs=0.02)
    # growth stability: the same doc keeps its split in a larger corpus
    bigger = spark.range(0, 40000).withColumnRenamed("id", "doc_id").withColumn(
        "s", text.assign_split(F.col("doc_id"), (0.8, 0.1, 0.1))
    )
    a = dict(split.filter(F.col("doc_id") < 100).select("doc_id", "s").collect())
    b = dict(bigger.filter(F.col("doc_id") < 100).select("doc_id", "s").collect())
    assert a == b


def test_write_training_shards_roundtrip(spark, tables, tmp_path):
    docs = tables["documents"].select("doc_id", "text", "n_chars").df
    dest = str(tmp_path / "shards")
    text.write_training_shards(docs, dest, n_shards=8)
    back = spark.read.parquet(dest)
    assert back.count() == docs.count()
    assert set(back.select("shard").distinct().toPandas()["shard"]) == set(range(8))
    # one file per shard directory, rows inside sorted by md5(doc_id)
    import glob
    for shard_dir in glob.glob(f"{dest}/shard=*"):
        files = glob.glob(f"{shard_dir}/*.parquet")
        assert len(files) == 1
    one = spark.read.parquet(f"{dest}/shard=0")
    got = [r["doc_id"] for r in one.collect()]
    expect = sorted(got, key=lambda i: __import__("hashlib").md5(str(i).encode()).hexdigest())
    assert got == expect


def test_dhash_banding_exact_vs_bruteforce(spark):
    df = spark.range(0, 60).withColumnRenamed("id", "doc_id")
    blobs = multimodal.attach_image_blobs(df)
    hashes = multimodal.dhash_images(blobs).cache()
    banded = {
        (r["id_a"], r["id_b"])
        for r in multimodal.phash_near_dups(hashes, max_hamming=3, bands=4).collect()
    }
    rows = hashes.collect()
    brute = {
        (a["doc_id"], b["doc_id"])
        for a in rows for b in rows
        if a["doc_id"] < b["doc_id"]
        and bin(a["dhash"] ^ b["dhash"]).count("1") <= 3
    }
    hashes.unpersist()
    assert banded == brute  # pigeonhole banding loses nothing
    assert brute  # the gradient corpus actually contains near-dups
    with pytest.raises(ValueError):
        multimodal.phash_near_dups(hashes, max_hamming=4, bands=4)


def test_remove_duplicate_segments_keeps_first_occurrence(spark):
    boiler = " ".join(f"b{i}" for i in range(10))  # a 10-word boilerplate segment
    u1 = " ".join(f"x{i}" for i in range(10))
    u2 = " ".join(f"y{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, boiler + " " + u1), (2, boiler + " " + u2), (3, boiler)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_segments(df).collect()}
    assert out[1]["clean_text"] == boiler + " " + u1  # first occurrence keeps it
    assert out[2]["clean_text"] == u2  # later copies lose the segment
    assert 3 not in out  # all segments dropped -> doc vanishes
    assert out[1]["n_kept"] == 2 and out[2]["n_kept"] == 1


def test_corpus_overlap_identical_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} about spark shuffles and partitions") for i in range(20)],
        "doc_id long, text string",
    )
    everything = F.lit(True)
    same = dedup.corpus_overlap_single_pass(docs, everything, everything).first()
    assert same["n_matches"] == 32 and same["jaccard_est"] == 1.0
    other = spark.createDataFrame(
        [(i, "زبان فارسی متن کاملا متفاوت " + "×" * i) for i in range(20, 30)],
        "doc_id long, text string",
    )
    both = docs.union(other)
    diff = dedup.corpus_overlap_single_pass(
        both, F.col("doc_id") < 20, F.col("doc_id") >= 20
    ).first()
    assert diff["jaccard_est"] < 0.3  # near-disjoint shingle sets


def test_token_budget_rates_cap_and_math(spark):
    df = spark.createDataFrame(
        [(1, "a " * 1000, "big"), (2, "b " * 10, "small"), (3, "c " * 10, "small")],
        "doc_id long, text string, source string",
    )
    out = {
        r["source"]: r
        for r in text.token_budget_rates(
            df, 500, {"big": 0.5, "small": 0.5}, max_epochs=4.0
        ).collect()
    }
    assert out["big"]["rate"] == pytest.approx(250 / 1000)
    assert not out["big"]["capped"]
    assert out["small"]["rate"] == 4.0 and out["small"]["capped"]  # 250/20 > 4
    assert out["small"]["expected_tokens"] == pytest.approx(80.0)


def _two_frame_overlap(a, b, num_hashes=32):
    """Reference overlap: each corpus's MinHash signature computed from its
    own frame (per-hash ``min`` over the per-doc signatures), then the
    fraction of matching permutation mins."""

    def signature(frame, out):
        sigs = dedup._signatures(frame, "text", "doc_id", 5, num_hashes)
        return sigs.agg(*[F.min(f"m{i}").alias(f"{out}{i}") for i in range(num_hashes)])

    matches = sum((F.col(f"m{i}") == F.col(f"n{i}")).cast("long") for i in range(num_hashes))
    return signature(a, "m").crossJoin(signature(b, "n")).select(
        matches.alias("n_matches"), (matches / F.lit(float(num_hashes))).alias("jaccard_est")
    )


def test_corpus_overlap_single_pass_matches_two_frame(spark):
    docs = spark.createDataFrame(
        [(i, f"shared prose number {i % 7} with common phrasing") for i in range(40)],
        "doc_id long, text string",
    )
    a_pred = F.col("doc_id") % 2 == 0
    b_pred = F.col("doc_id") % 3 == 0
    two = _two_frame_overlap(docs.where(a_pred), docs.where(b_pred)).first()
    one = dedup.corpus_overlap_single_pass(docs, a_pred, b_pred).first()
    assert one["n_matches"] == two["n_matches"]
    assert one["jaccard_est"] == two["jaccard_est"]


def test_corpus_overlap_matrix_ids_repeat_across_groups(spark):
    # per-source tables often reuse per-source doc ids; the group label
    # must ride through the signature computation, not re-join on id (a
    # fan-out there cross-contaminates both groups' signatures). Same
    # doc_id range in all three sources: matrix must equal the pairwise
    # two-frame estimates computed on cleanly separated frames.
    def rows(src, phrase):
        return [(i, f"{phrase} passage number {i} about topic", src) for i in range(10)]

    df = spark.createDataFrame(
        rows("a", "alpha wolf") + rows("b", "alpha wolf") + rows("c", "gamma ray"),
        "doc_id long, text string, source string",
    )
    got = {
        (r["src_a"], r["src_b"]): (r["n_matches"], r["jaccard_est"])
        for r in dedup.corpus_overlap_matrix(df, by="source").collect()
    }
    for pair in [("a", "b"), ("a", "c"), ("b", "c")]:
        two = _two_frame_overlap(
            df.where(F.col("source") == pair[0]),
            df.where(F.col("source") == pair[1]),
        ).first()
        assert got[pair] == (two["n_matches"], two["jaccard_est"])
    assert got[("a", "b")][1] > got[("a", "c")][1]  # identical > disjoint


def test_containment_pairs_asymmetric(spark):
    big = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(10, 20))  # fully inside big
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    out = {
        (r["id_in"], r["id_out"]): r["containment"]
        for r in dedup.containment_pairs(df, n=3, min_containment=0.9).collect()
    }
    assert out[(2, 1)] == pytest.approx(1.0)  # excerpt contained in big
    assert (1, 2) not in out  # big is NOT contained in the excerpt
    assert all(3 not in p for p in out)


def test_curation_pipeline_end_to_end(spark, tmp_path):
    # the declarative runner: quality gate -> PII redaction -> exact dedup
    # -> near dedup -> decontamination -> split -> shard export, with an
    # audited drop count per step
    from graphique_spark.pipeline import run_pipeline

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(40):  # clean docs with genuinely distinct vocabularies
        tail = " ".join(f"term{i * 97 + j} data{i * 31 + j}" for j in range(10))
        rows.append((i, f"the research area {i} covers {tail} in practice"))
    rows.append((100, base))
    rows.append((101, base))  # exact dup of 100
    rows.append((102, base + " tonight"))  # near dup of 100
    rows.append((103, "x"))  # fails quality gate (too short, no stopwords)
    rows.append((104, "contact me at alice@example.com for the document review process today"))
    rows.append((105, "leaked eval question: what color is the sky on mars at noon exactly"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    config = {
        "text": "text",
        "id": "doc_id",
        "steps": [
            {"op": "quality_filter", "min_score": 0.4},
            {"op": "pii_redact"},
            {"op": "exact_dedup"},
            {"op": "near_dedup", "min_jaccard": 0.7},
            {
                "op": "decontaminate",
                "eval_texts": ["what color is the sky on mars at noon exactly"],
                "n": 8,
            },
            {"op": "split", "weights": [0.8, 0.1, 0.1]},
        ],
        "output": {"dest": str(tmp_path / "shards"), "n_shards": 4},
    }
    curated, audit = run_pipeline(spark, df, config)
    by_op = {a["op"]: a for a in audit}
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}

    assert 103 not in ids and by_op["quality_filter"]["dropped"] >= 1
    assert by_op["exact_dedup"]["dropped"] == 1  # 101 dies, 100 survives it
    assert 101 not in ids
    # near dedup then keeps the LONGEST member of the 100/102 component
    assert by_op["near_dedup"]["dropped"] == 1
    assert 102 in ids and 100 not in ids
    assert 105 not in ids and by_op["decontaminate"]["dropped"] == 1
    # PII was redacted in place
    red = curated.where(F.col("doc_id") == 104).first()["text"]
    assert "alice@example.com" not in red
    # audit is monotone and consistent
    for a in audit:
        assert a["rows_out"] == a["rows_in"] - a["dropped"]
    # split column present with sane values; shards on disk hold everything
    assert set(r["split"] for r in curated.select("split").distinct().collect()) <= {
        "train", "val", "test"
    }
    written = spark.read.parquet(str(tmp_path / "shards"))
    assert written.count() == curated.count()
    assert written.select("shard").distinct().count() <= 4


def test_ivf_knn_join_empty_centroids_returns_typed_empty(tables):
    from graphique_spark.llm.similarity import ivf_knn_join

    emb = tables["embeddings"].df
    out = ivf_knn_join(emb, emb.limit(3), centroids=[], k=2)
    assert out.columns == ["query_id", "vec_id", "cosine"]
    assert out.count() == 0


def test_dsir_log_weights_prefers_target_like_docs(spark):
    from graphique_spark.llm.text import dsir_log_weights

    target = ["quantum entanglement theorem proof lattice"] * 6
    noise = ["buy cheap pills now click here winner"] * 6
    rows = [(i, t, True) for i, t in enumerate(target)]
    rows += [(100 + i, t, False) for i, t in enumerate(noise)]
    # held-out probes: one target-like, one noise-like, neither an exemplar
    rows += [(500, "entanglement lattice theorem", False),
             (501, "cheap pills winner", False)]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(df, F.col("tgt"), buckets=256).collect()
    }
    assert out[500] > 0 > out[501]
    # weights are per-token sums: every exemplar outweighs every noise doc
    assert min(out[i] for i in range(6)) > max(out[100 + i] for i in range(6))


def test_dsir_log_weights_empty_corpus(spark):
    from graphique_spark.llm.text import dsir_log_weights

    df = spark.createDataFrame([], "doc_id long, text string")
    out = dsir_log_weights(df, F.lit(False))
    assert out.columns == ["doc_id", "n_tokens", "log_weight"]
    assert out.count() == 0


def test_quality_score_empty_text_gets_no_stopword_credit(spark):
    # stopword_ratio is NULL for zero-token text and F.least skips NULLs:
    # an empty doc must score 0.25 (0 length + 0 stop + 0.5 + 0.5)/4,
    # not 0.5 with full stopword credit
    from graphique_spark.llm.text import quality_score

    df = spark.createDataFrame(
        [("",), ("   ",), ("the of and a in to is",)], "text string"
    )
    vals = [r[0] for r in df.select(quality_score(F.col("text"))).collect()]
    assert vals[0] == 0.25
    assert vals[1] < 0.4  # whitespace-only: zero stopword credit
    assert vals[2] > 0.5


def test_mixture_sample_zero_weight_excludes_source(spark):
    from graphique_spark.llm.text import mixture_sample

    rows = [(i, "web") for i in range(50)] + [(100 + i, "spam") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df, {"web": 1.0, "spam": 0.0})
    assert out.where(F.col("source") == "spam").count() == 0
    assert out.where(F.col("source") == "web").count() == 50
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        mixture_sample(df, {"web": 0.0, "spam": 0.0})


def test_bm25_empty_query_returns_typed_empty(tables):
    from graphique_spark.llm.text import bm25_topk

    out = bm25_topk(tables["documents"].df, [])
    assert out.columns == ["doc_id", "score"]
    assert out.count() == 0


def test_canonical_pick_string_ids_deterministic(spark):
    from graphique_spark.llm.dedup import canonical_pick

    comps = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-a", "doc-a"), ("doc-c", "doc-a")],
        "v string, component string",
    )
    attrs = spark.createDataFrame(
        [("doc-a", 10), ("doc-b", 10), ("doc-c", 5)], "doc_id string, n_chars long"
    )
    out = canonical_pick(comps, attrs).collect()
    # equal priority tie (doc-a vs doc-b at 10): smallest id must win
    assert all(r["keep_id"] == "doc-a" for r in out)


def test_lsh_band_divisibility_validated(tables):
    from graphique_spark.llm import dedup
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        dedup.minhash_candidates(tables["documents"].df, num_hashes=16, bands=5)


def test_word_entropy_empty_doc_drops_out(spark):
    from graphique_spark.llm.text import word_entropy

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in word_entropy(df).collect()}
    assert set(out) == {3}
    assert out[3]["n_words"] == 3 and out[3]["n_unique_words"] == 2


def test_decode_audio_stereo_downmixes(spark):
    import io as _io
    import struct
    import wave as _wave

    from graphique_spark.llm.multimodal import decode_audio

    sr, n = 8000, 800
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(sr)
        # L channel: +1000, R channel: -1000 -> mono downmix is silence
        w.writeframes(struct.pack("<%dh" % (2 * n), *([1000, -1000] * n)))
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))], "doc_id long, blob binary")
    row = decode_audio(df).collect()[0]
    assert row["n_samples"] == n
    assert abs(row["duration"] - n / sr) < 1e-9
    assert row["rms"] == 0.0  # interleaved L/R would read rms ~1000/32768


def test_pipeline_dsir_and_leakage_safe_split(spark):
    from graphique_spark.pipeline import run_pipeline

    rows = []
    for i in range(12):
        rows.append((i, "quantum lattice theorem entanglement proof " * 3, "good"))
    for i in range(12):
        rows.append((100 + i, "buy cheap pills click winner now " * 3, "spam"))
    # a near-dup pair that must land in the SAME split
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows.append((200, base, "good"))
    rows.append((201, base + " tonight", "good"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    config = {
        "steps": [
            {"op": "dsir_select", "target": "source = 'good'",
             "keep_fraction": 0.5, "buckets": 256},
            {"op": "split_leakage_safe", "weights": [0.5, 0.25, 0.25],
             "min_jaccard": 0.7},
        ],
    }
    curated, audit = run_pipeline(spark, df, config)
    by_op = {a["op"]: a for a in audit}
    got = {r["doc_id"]: r["split"] for r in curated.collect()}
    # DSIR keeps the target-like half: every spam doc scores below the cut
    assert all(100 + i not in got for i in range(12))
    assert by_op["dsir_select"]["dropped"] >= 12
    # near-dup docs 200/201 survive (target-like enough? they are neutral);
    # if both survived they MUST share a split
    if 200 in got and 201 in got:
        assert got[200] == got[201]
    assert by_op["split_leakage_safe"]["dropped"] == 0


def test_pipeline_url_steps(spark, tmp_path):
    from graphique_spark.pipeline import run_pipeline

    rows = [
        (1, "doc one", "https://ok.example.com/a"),
        (2, "doc two", "https://spam.bad.net/b"),
        (3, "doc three", "https://cdn.spam.bad.net/c"),
        # 4 and 5 are the same page behind tracking noise: dedup keeps 4
        (4, "doc four", "https://ok.example.com/page?id=1&utm_source=x"),
        (5, "doc five", "HTTPS://OK.example.com/page?id=1#frag"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    config = {
        "steps": [
            {"op": "url_blocklist", "blocked": ["bad.net"]},
            {"op": "url_dedup"},
        ],
    }
    curated, audit = run_pipeline(spark, df, config)
    assert sorted(r["doc_id"] for r in curated.collect()) == [1, 4]
    by_op = {a["op"]: a for a in audit}
    assert by_op["url_blocklist"]["dropped"] == 2
    assert by_op["url_dedup"]["dropped"] == 1

    # parquet-path blocklist (the UT1-scale DataFrame shape)
    block_path = str(tmp_path / "blocklist")
    spark.createDataFrame([("bad.net",)], "domain string").write.parquet(block_path)
    config2 = {"steps": [{"op": "url_blocklist", "blocked": block_path}]}
    curated2, audit2 = run_pipeline(spark, df, config2)
    assert sorted(r["doc_id"] for r in curated2.collect()) == [1, 4, 5]
    assert audit2[0]["blocked"] == block_path


def test_pipeline_dsir_keeps_tokenless_docs(spark):
    from graphique_spark.pipeline import run_pipeline

    rows = [(i, "quantum lattice theorem proof " * 3, "good") for i in range(8)]
    rows += [(100 + i, "buy cheap pills winner now " * 3, "spam") for i in range(8)]
    rows += [(200, "12345 67890", "good"), (201, "", "good")]  # token-less
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    config = {
        "steps": [
            {"op": "dsir_select", "target": "source = 'good'",
             "keep_fraction": 0.5, "buckets": 256},
        ],
    }
    curated, audit = run_pipeline(spark, df, config)
    got = {r["doc_id"] for r in curated.collect()}
    # token-less docs score the neutral 0.0 — they must not be blanket-
    # dropped; with 8/18 spam docs below the cut the neutral docs survive
    assert 200 in got and 201 in got
    assert all(100 + i not in got for i in range(8))


def test_pipeline_html_extract_step(spark):
    from graphique_spark.pipeline import run_pipeline

    rows = [
        (1, "<html><body><script>x=1;</script><p>real words here</p></body></html>"),
        (2, "plain already"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    curated, audit = run_pipeline(spark, df, {"steps": [{"op": "html_extract"}]})
    got = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert got[1] == "real words here"
    assert got[2] == "plain already"
    assert audit[0]["dropped"] == 0


def test_mixture_sample_subnormal_weight_keeps_zero_weight_excluded(spark):
    # regression (hypothesis find): 1/subnormal overflows n_total to inf,
    # 0.0*inf is nan, and min(1.0, nan) -> 1.0 used to keep the excluded
    # source entirely
    from graphique_spark.llm.text import mixture_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string"
    )
    out = mixture_sample(df, {"a": 0.0, "b": 2.2e-309, "c": 1.0})
    assert {r["source"] for r in out.collect()} == {"b"}


def test_badwords_filter_step(spark):
    from graphique_spark.llm.text import badword_fraction
    from graphique_spark.pipeline import run_pipeline

    rows = [
        (1, "perfectly normal prose about engines and data"),
        (2, "spamword everywhere spamword spamword spamword yes"),
        (3, "one spamword inside a long enough otherwise clean document here"),
        (4, ""),  # token-less: passes (no evidence)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    config = {
        "steps": [
            {"op": "badwords_filter", "words": ["spamword", "a.b"],
             "max_fraction": 0.2},
        ],
    }
    curated, audit = run_pipeline(spark, df, config)
    assert sorted(r["doc_id"] for r in curated.collect()) == [1, 3, 4]
    assert audit[0]["dropped"] == 1 and audit[0]["n_words"] == 2
    # regex metachars in the list match literally: "a.b" must not match "axb"
    frac = df.sparkSession.createDataFrame(
        [("axb axb",), ("a.b here",)], "t string"
    ).select(badword_fraction(__import__("pyspark.sql.functions", fromlist=["F"]).col("t"), ["a.b"]).alias("f")).collect()
    assert frac[0]["f"] == 0.0 and frac[1]["f"] > 0


def test_similarity_degenerate_inputs(spark):
    # empty corpus / zero vectors / NULL vectors: typed results or clear
    # errors, never ZeroDivisionError / IndexError / TypeError
    import pytest as _pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.ivf_topk(empty, [1.0, 0.0], num_centroids=4, k=3).count() == 0
    assert similarity.assign_clusters(empty).count() == 0
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = similarity.knn_join_lsh(empty, queries, k=2)
    assert out.count() == 0 and out.columns == ["query_id", "vec_id", "cosine"]
    # zero-norm vector sampled as centroid: no driver crash
    rows = [(i, [0.0, 0.0] if i == 0 else [float(i), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = similarity.ivf_topk(df, [1.0, 0.5], num_centroids=6, nprobe=6, k=3)
    assert got.count() == 3
    # NULL first vector: pair blocking skips it instead of TypeError
    withnull = spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0]), (2, [1.0, 0.01])],
        "vec_id long, embedding array<float>",
    )
    pairs = similarity.embedding_near_dups(withnull, threshold=0.9)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_ivf_topk_duplicate_centroid_tiebreak(spark):
    # two identical vectors sampled as centroids: assignment must pick the
    # same (smallest-cid) cell the probe ranking prefers, or nprobe=1
    # silently loses the region
    rows = [(i, [1.0, 0.0]) for i in range(4)] + [(10, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(3, [1.0, 0.0]), (7, [1.0, 0.0]), (9, [0.0, 1.0])]
    got = similarity.ivf_topk(df, [1.0, 0.0], centroids=cents, nprobe=1, k=4)
    assert got.count() == 4  # the duplicate-centroid region is NOT dropped


def test_ivf_topk_zero_norm_centroid_ranks_last(spark):
    # a zero-norm centroid has a NULL cosine to every row, so no row joins
    # its cell; the probe ranking must put it last too, or nprobe=1 probes
    # an empty (or all-NULL) cell instead of the query's neighbours
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [0.0, 0.0]), (1, [1.0, 0.0])]
    got = similarity.ivf_topk(df, [-1.0, 0.0], centroids=cents, nprobe=1).collect()
    exact = similarity.brute_force_topk(df, [-1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in got] == [2, 1]
    assert [tuple(r) for r in got] == [tuple(r) for r in exact]
    assert got[1]["cosine"] == -1.0


def _odd_vector_frame(spark, elem: str, id_type: str, seed: int, n=24, dim=5):
    """Seeded random vectors plus one row of each degenerate kind: a
    zero-norm vector, a NULL vector, a NULL element and a vector that is
    one element short. Returns (frame, ids of the degenerate rows)."""
    import random

    rng = random.Random(seed)
    vecs = [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n)]
    vecs += [[0.0] * dim, None, [0.5] * (dim - 1) + [None], [0.5] * (dim - 1)]
    ids = range(len(vecs))
    ids = list(ids) if id_type == "long" else [f"v{i:03d}" for i in ids]
    df = spark.createDataFrame(
        list(zip(ids, vecs)), f"vec_id {id_type}, embedding array<{elem}>"
    )
    return df, ids[n:]


def _spark_cosines(df, vecs):
    """{vec_id: [cosine_similarity to each of vecs]}, computed by the
    Column-HOF ``cosine_similarity`` — the reference every site must equal."""
    cols = [
        similarity.cosine_similarity(
            F.col("embedding"), F.array(*[F.lit(float(x)) for x in v])
        ).alias(f"c{i}")
        for i, v in enumerate(vecs)
    ]
    return {r[0]: list(r[1:]) for r in df.select("vec_id", *cols).collect()}


def _cell_order(cos: list, cids: list, largest_cid: bool) -> list:
    """cids in Spark's descending ``struct(cos, cid)`` order: a NULL cosine
    ranks below every number, equal cosines go to the larger cid (or to the
    smaller one when ``largest_cid`` is False)."""
    def key(i):
        c = cos[i]
        return (c is not None, c or 0.0, cids[i] if largest_cid else -cids[i])

    return [cids[i] for i in sorted(range(len(cids)), key=key, reverse=True)]


@pytest.mark.parametrize("elem", ["float", "double"])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_vector_sites_equal_cosine_similarity(spark, elem, id_type):
    # every driver-vector scoring site returns cosines == cosine_similarity
    # on the same pairs, and puts each row (degenerate ones included) in the
    # cell of Spark's struct(cos, cid) order. cid 7 duplicates cid 2: ivf_topk
    # breaks the tie to the smaller cid, assign_clusters and ivf_knn_join
    # to the larger one
    df, odd = _odd_vector_frame(spark, elem, id_type, seed=11)
    n = df.count()
    base = {r["vec_id"]: r["embedding"] for r in df.collect()}
    vecs = [base[k] for k in sorted(base, key=str) if base[k] and None not in base[k]]
    cents = [(5, vecs[3]), (2, vecs[8]), (9, vecs[14]), (7, vecs[8])]
    cids = [c for c, _ in cents]
    query = vecs[20]
    ref = _spark_cosines(df, [v for _, v in cents] + [query])
    qcos = {i: c[-1] for i, c in ref.items()}
    for i in odd:
        assert ref[i] == [None] * 5
    small = {i: _cell_order(c[:-1], cids, False)[0] for i, c in ref.items()}
    large = {i: _cell_order(c[:-1], cids, True) for i, c in ref.items()}
    assert {small[i] for i in odd} == {2} and {large[i][0] for i in odd} == {9}

    got = similarity.brute_force_topk(df, query, k=n).collect()
    assert {r["vec_id"]: r["cosine"] for r in got} == qcos
    assert [r["vec_id"] for r in got][-4:] == sorted(odd)  # NULLs last, by id

    got = similarity.ivf_topk(df, query, centroids=cents, nprobe=len(cents), k=n)
    assert {r["vec_id"]: r["cosine"] for r in got.collect()} == qcos
    for cid, cvec in cents[:3]:  # a centroid as the query probes its own cell
        got = similarity.ivf_topk(df, cvec, centroids=cents, nprobe=1, k=n)
        assert {r["vec_id"] for r in got.collect()} == {
            i for i in ref if small[i] == cid
        }

    got = similarity.assign_clusters(df, centroids=cents).collect()
    assert {r["vec_id"]: (r["cluster"], r["cos_to_centroid"]) for r in got} == {
        i: (large[i][0], max(c[:-1], key=lambda x: (x is not None, x or 0.0)))
        for i, c in ref.items()
    }

    qs = df.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    pairs = qs.crossJoin(df).select(
        "query_id", "vec_id", similarity.cosine_similarity(F.col("embedding"), F.col("q"))
    )
    pair_ref = {(r[0], r[1]): r[2] for r in pairs.collect()}
    got = similarity.ivf_knn_join(df, df, cents, k=n, nprobe=len(cents)).collect()
    assert {(r["query_id"], r["vec_id"]): r["cosine"] for r in got} == pair_ref
    for nprobe in (1, 2):
        got = similarity.ivf_knn_join(df, df, cents, k=n, nprobe=nprobe).collect()
        assert {(r["query_id"], r["vec_id"]) for r in got} == {
            (q, v) for q, v in pair_ref if large[v][0] in large[q][:nprobe]
        }


def test_ivf_topk_build_cost_flat_in_centroids(spark, py4j_calls):
    # building the ivf_topk frame ships the centroids to the kernel as
    # data: the py4j command count must not grow with the centroid count
    # (as 32 F.lit columns + lambdas per centroid: about 6,000 for 16)
    import random

    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    df.schema  # noqa: B018 -- resolve the input schema before counting
    query = [rng.uniform(-1, 1) for _ in range(32)]

    def build(m):
        cents = [(c, [rng.uniform(-1, 1) for _ in range(32)]) for c in range(m)]
        start = py4j_calls.n
        similarity.ivf_topk(df, query, centroids=cents, nprobe=2)
        return py4j_calls.n - start

    build(16)  # first build: one-time lookups
    n16, n32 = build(16), build(32)
    assert 0 < n16 <= 200
    assert n32 <= n16


def test_assign_clusters_and_ivf_knn_join_ties_to_largest_cid(spark):
    from pyspark.sql import types as T

    rows = [(i, [1.0, 0.0]) for i in range(3)] + [(10, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(7, [1.0, 0.0]), (3, [1.0, 0.0]), (9, [0.0, 1.0])]
    out = similarity.assign_clusters(df, centroids=cents)
    assert out.schema["cluster"] == T.StructField("cluster", T.IntegerType(), False)
    assert {r["vec_id"]: r["cluster"] for r in out.collect()} == {0: 7, 1: 7, 2: 7, 10: 9}
    # re-assigning replaces the cluster columns in place, as withColumn did
    again = similarity.assign_clusters(
        similarity.assign_clusters(df, centroids=cents), centroids=[(1, [0.0, 1.0])]
    )
    assert again.columns == ["vec_id", "embedding", "cluster", "cos_to_centroid"]
    assert {r["cluster"] for r in again.collect()} == {1}
    # the query side probes the same (largest-cid) duplicate the corpus
    # joined, so nprobe=1 keeps the region
    got = similarity.ivf_knn_join(df, df.limit(1), cents, k=5, nprobe=1)
    assert {r["vec_id"] for r in got.collect()} == {0, 1, 2}
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_knn_join(df, df, cents, nprobe=-1)


def test_dedup_null_text_never_pairs(spark):
    # NULL text (failed extraction) must not dedup: previously all-NULL
    # minhashes collided into one band key per band and verified at
    # jaccard 1.0 (m^2/2 false "perfect" pairs); md5(NULL) also grouped
    # unrelated docs as exact duplicates
    rows = [(1, None), (2, None), (3, "unrelated text about spark"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.minhash_candidates(df, num_hashes=8, bands=4).count() == 0
    assert dedup.exact_duplicates(df).count() == 0
    assert dedup.ngram_jaccard_pairs(df, block_by=F.lit(1), min_jaccard=0.5).count() == 0
    assert dedup.ngram_jaccard_pairs(df, min_jaccard=0.5).count() == 0
    # simhash surfaces agree: table has no row, fingerprint is NULL
    assert dedup.simhash_table(df).count() == 1  # only doc 3
    fp = df.select(
        dedup.simhash_fingerprint(dedup.char_shingles(F.col("text"))).alias("f")
    ).collect()
    assert [r["f"] for r in fp[:2]] == [None, None]


def test_star_components_nonconvergence_raises(spark):
    # exhausting max_iterations must raise, not silently emit split
    # components from a partially-contracted edge set
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_labels(chain, "star", max_iterations=1)


def test_text_whitespace_and_null_edges(spark):
    # CRLF and trailing-newline text through the token/line heuristics
    from graphique_spark.llm import text as t

    df = spark.createDataFrame(
        [
            (1, "hello world\n"),
            (2, "Good line one two.\r\nAnother good line here.\r\n"),
            (3, "a b\nc d\n\r\n\r\n\r\n"),
            (4, None),
            (5, "\n"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            t.token_count(F.col("text")).alias("tc"),
            t.kept_lines(F.col("text")).alias("kl"),
            t.dup_line_fraction(F.col("text")).alias("dlf"),
            t.chunk_text(F.col("text")).alias("ch"),
        ).collect()
    }
    assert rows[1]["tc"] == 2  # was 3: trailing \n made a phantom token
    assert rows[5]["tc"] == 0  # was 2
    assert rows[4]["tc"] is None
    assert len(rows[2]["kl"]) == 2  # was 0: \r broke terminal punctuation
    assert rows[3]["dlf"] == 0.0  # was 0.4: \r blank lines counted as dups
    assert rows[4]["ch"] is None  # was [None]


def test_sampling_zero_weight_edges(spark):
    from graphique_spark.llm import text as t

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, 1.0), (4, None)], "doc_id long, w double"
    )
    # zero/NULL weights are excluded, never a DIVIDE_BY_ZERO and never a
    # winner by NULL key
    got = {r["doc_id"] for r in t.weighted_sample(df, 4, F.col("w")).collect()}
    assert got == {1, 3}
    # all-empty source: rate NULL-degrades instead of crashing
    docs = spark.createDataFrame(
        [(1, "words here", "a"), (2, "", "b")], "doc_id long, text string, source string"
    )
    rates = t.token_budget_rates(docs, 1000, {"a": 0.5, "b": 0.5})
    vals = {r["source"]: r["rate"] for r in rates.collect()}
    # the zero-token source drops from the plan (it cannot absorb budget)
    # instead of crashing or silently taking the max_epochs cap
    assert vals["a"] is not None and "b" not in vals


def test_multimodal_degenerate_blobs(spark):
    # zero-size images, histogram remainder bins, bad WAV headers
    import io as _io
    import struct
    import wave as _wave

    import numpy as _np

    # 0x0 PPM and BMP: clear ValueError, and skip_invalid really skips
    zero_ppm = b"P6\n0 0\n255\n"
    with pytest.raises(ValueError, match="degenerate"):
        multimodal.decode_ppm(zero_ppm)
    good = multimodal.ppm_bytes(1, 4, 4)
    df = spark.createDataFrame(
        [(1, bytearray(zero_ppm)), (2, bytearray(good))], "doc_id long, blob binary"
    )
    out = multimodal.decode_images(df, skip_invalid=True).collect()
    assert [r["doc_id"] for r in out] == [2]
    # bins that don't divide 256: the top bucket absorbs the remainder —
    # counts must sum to the pixel count
    hist = multimodal.channel_histograms(
        spark.createDataFrame([(1, bytearray(good))], "doc_id long, blob binary"),
        bins=12,
    ).collect()
    assert all(sum(r["counts"]) == 16 for r in hist)
    # framerate-0 WAV: ValueError, not ZeroDivisionError
    buf = _io.BytesIO()
    w = _wave.open(buf, "wb")
    w.setnchannels(1); w.setsampwidth(2); w.setframerate(1)
    w.writeframes(_np.zeros(8, dtype="<i2").tobytes()); w.close()
    bad = bytearray(buf.getvalue().replace(struct.pack("<I", 1), struct.pack("<I", 0), 1))
    with pytest.raises(Exception, match="invalid sample rate"):
        multimodal._read_pcm_mono(bytes(bad))
    # custom id_col flows through to the output schema
    named = df.withColumnRenamed("doc_id", "image_id")
    cols = multimodal.decode_images(named, id_col="image_id", skip_invalid=True).columns
    assert cols[0] == "image_id"


def test_hard_negatives_band_nonempty_at_gate_scale(spark):
    # the suite query's [0.3, 0.9) band must carry rows at sf0.01 — the
    # driver's correctness gate compares values, and an empty band makes
    # the oracle match vacuous (0-rows-vs-0-rows, round-7 verdict item 3)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = similarity.hard_negatives(emb, lo=0.3, hi=0.9, num_planes=4).collect()
    assert len(out) > 0
    assert all(0.3 <= r["cosine"] < 0.9 for r in out)


def test_bind_once_equivalent_to_direct_application(spark):
    # bind_once routes an expensive array through a single-element
    # transform so HOF lambda bodies reference it as a bound variable
    # (evaluated once per row) instead of re-evaluating the captured
    # subtree per element. It must be a pure let-binding: identical
    # values to direct application for every value shape, including
    # NULL inputs and empty arrays.
    df = spark.createDataFrame(
        [("a b c d e",), ("  spaced   out  ",), ("one",), ("",), (None,)],
        ["text"],
    )
    words = F.split(F.trim(F.col("text")), r"\s+")

    def grams(ws):
        count = F.greatest(F.size(ws) - 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.array_join(F.slice(ws, i + 1, 2), " "),
        )

    direct = df.select(grams(words).alias("g")).collect()
    bound = df.select(dedup.bind_once(words, grams).alias("g")).collect()
    assert direct == bound
    # scalar-valued body and non-array bound value also round-trip
    scalar = df.select(
        dedup.bind_once(F.length(F.col("text")), lambda n: n * 2 + 1).alias("v")
    ).collect()
    expected = df.select((F.length(F.col("text")) * 2 + 1).alias("v")).collect()
    assert scalar == expected
