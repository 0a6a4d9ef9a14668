"""Scale probe: run headline queries at 1x and Nx the sf0.1 data (Nx via
re-reading + union, which multiplies real scan/shuffle work) and report the
wall-clock scaling factor. A scale-sound operator should scale ~linearly
(factor ≈ N); a super-linear factor flags a shuffle or skew problem that
would bite harder at 100 TB.

Usage: PYTHONPATH=/root/repo python tools/scale_probe.py [N] [probe ...]
(default: all probes; naming probes also skips the ANN growth tables)
"""

from __future__ import annotations

import json
import sys
import time

SF_DIR = "/root/testdata/sf0.1"


def multiplied(spark, name: str, times: int):
    from functools import reduce

    from graphique_spark.sources import NANO_COLUMNS, normalize_nanos

    frames = [
        normalize_nanos(spark.read.parquet(f"{SF_DIR}/{name}.parquet"), NANO_COLUMNS.get(name, ()))
        for _ in range(times)
    ]
    return reduce(lambda a, b: a.unionByName(b), frames)


def multiplied_explode(spark, name: str, times: int):
    """``times``× rows via a per-row explode instead of a ``times``-leg
    union: one scan leg, so the PLAN stays constant-size at multipliers
    where union-based multiplication OOMs the driver on expression
    canonicalization (measured: url_pipeline at 256 legs exhausts an 8g
    heap before the job starts). The file is read once, so scan IO is not
    multiplied — compute/shuffle work is — which is the right regime for
    big-multiplier probes of agg/join stages. Rows duplicate exactly
    (ids not remapped)."""
    from pyspark.sql import functions as F

    from graphique_spark.sources import NANO_COLUMNS, normalize_nanos

    base = normalize_nanos(
        spark.read.parquet(f"{SF_DIR}/{name}.parquet"), NANO_COLUMNS.get(name, ())
    )
    return base.withColumn(
        "__copy", F.explode(F.lit(list(range(times))))
    ).drop("__copy")


def multiplied_docs_distinct(spark, times: int):
    """``times`` copies of documents with DISTINCT content per copy: each
    copy Caesar-rotates the alphabet, so cross-copy shingle sets are
    disjoint and the true near-dup pair count grows LINEARLY with the
    multiplier — the real "corpus grew with new content" regime. Plain
    duplication (``multiplied``) makes every doc a dup of every copy, so
    pair OUTPUT itself is quadratic in the multiplier and any dedup probe
    measures output size, not operator scaling."""
    import string
    from functools import reduce

    from pyspark.sql import functions as F

    letters = string.ascii_lowercase
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = []
    for c in range(times):
        rot = letters[c % 26:] + letters[: c % 26]
        copies.append(
            base.select(
                (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
                F.translate(F.col("text"), letters, rot).alias("text"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), copies)


def multiplied_docs_distinct_explode(spark, times: int):
    """``times``x documents with per-copy Caesar-rotated content via ONE
    explode leg: a 26-branch CASE on ``__c % 26`` picks the rotation, so
    the plan stays constant-size at multipliers where a ``times``-leg
    union OOMs driver plan canonicalization. Identical content semantics
    to :func:`multiplied_docs_distinct` (incl. the %26 clone wrap beyond
    26 copies — each doc gains ~times/26 exact clones, keeping pair
    output LINEAR in the corpus). Scan IO is NOT multiplied (one leg) —
    compute/shuffle work is.

    Do NOT replace the rotation with a word-salt (suffixing words with the
    copy index): dedup shingles are CHARACTER 5-grams, and a shared salt
    at every word boundary fabricates cross-doc similarity — measured
    21.8M pairs vs Caesar's 2k at 8x, quadratic in the corpus."""
    import string

    from pyspark.sql import functions as F

    letters = string.ascii_lowercase
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exploded = (
        base.withColumn("__c", F.explode(F.lit(list(range(times)))))
        # spread (doc, copy) pairs across tasks BEFORE the rotation: the
        # explode otherwise lands all `times` copies in the handful of
        # scan partitions and a single task OOMs on the expanded text
        .repartition(256, "doc_id", "__c")
    )
    rot_expr = None
    for c in range(min(times, 26)):
        rot = letters[c:] + letters[:c]
        branch = F.translate(F.col("text"), letters, rot)
        if rot_expr is None:
            rot_expr = F.when(F.col("__c") % 26 == c, branch)
        else:
            rot_expr = rot_expr.when(F.col("__c") % 26 == c, branch)
    return exploded.select(
        # bigint copy index: int32 * 10M overflows ANSI at copy 215+
        (F.col("doc_id") + F.col("__c").cast("bigint") * 10_000_000).alias("doc_id"),
        rot_expr.alias("text"),
    )


def main() -> None:
    argv = sys.argv[1:]
    # --warm: run each probe once at 1x UNTIMED before timing, so the
    # family's codegen/first-plan cost doesn't inflate t_1x and deflate
    # the factor (measured: tpch_q2_minwin read 1x=12.5s vs 16x=2.4s cold
    # -> a nonsense 0.19 factor). Entries are tagged warmed=true; factors
    # are only comparable within the same warm setting.
    warm = "--warm" in argv
    argv = [a for a in argv if a != "--warm"]
    # N is optional even when probes are named: "scale_probe.py components"
    times = int(argv.pop(0)) if argv and argv[0].isdigit() else 4

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from graphique_spark.session import DEFAULT_CONF

    builder = (
        SparkSession.builder.appName("scale-probe")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        # probes push 128-256x synthetic corpora through one local JVM
        # (32 concurrent tasks share the heap); the box has 128 GiB
        .config("spark.driver.memory", "24g")
        # local mode: localCheckpoint blocks live in the driver process, so
        # a 256x materialized signature set (~2 GB) trips the default 1g
        # result-size guard even though nothing is collect()ed
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in DEFAULT_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def q1(mult):
        li = multiplied(spark, "lineitem", mult)
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.avg("l_extendedprice").alias("avg_price"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def star_join(mult):
        cust = multiplied(spark, "customer", mult)
        nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
        region = spark.read.parquet(f"{SF_DIR}/region.parquet")
        return (
            cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("customers"), F.sum("c_acctbal").alias("bal"))
        )

    def window_rank(mult):
        from pyspark.sql import Window

        orders = multiplied(spark, "orders", mult)
        w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
        return orders.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 100)

    def docs_distinct(mult):
        # Caesar union up to 64 legs; CASE-selected Caesar explode beyond
        # (one scan leg — a 256-leg union OOMs driver plan canonicalization)
        mk = multiplied_docs_distinct if mult <= 64 else multiplied_docs_distinct_explode
        return mk(spark, mult)

    def minhash(mult):
        from graphique_spark.llm import dedup

        docs = docs_distinct(mult)
        return dedup.minhash_candidates(docs, num_hashes=16, bands=4, min_jaccard=0.5)

    def ngram(mult):
        from graphique_spark.llm import dedup

        docs = docs_distinct(mult)
        return dedup.ngram_jaccard_pairs(docs, min_jaccard=0.7)

    def components(mult):
        from graphique_spark.llm import dedup
        from graphique_spark.session import materialize

        docs = docs_distinct(mult)
        pairs = dedup.minhash_candidates(docs, num_hashes=16, bands=4, min_jaccard=0.7)
        # label propagation directly: the probe measures the DISTRIBUTED
        # path, not the small-graph union-find the auto selection would take
        edges = materialize(dedup._undirected_edges(pairs, "id_a", "id_b"))
        return dedup._label_components(edges, 50)

    def segments(mult):
        from graphique_spark.llm import dedup

        # plain union up to 64x (comparable with r06-r08 entries); beyond
        # that the Caesar explode fixture keeps the plan constant-size AND
        # content distinct per copy, so duplicated-segment groups stay the
        # base corpus's size instead of growing mult-x deep
        docs = multiplied(spark, "documents", mult) if mult <= 64 else docs_distinct(mult)
        return dedup.duplicate_segments(docs)

    def interval_join(mult):
        # same join plan the streaming version runs (hash join partitioned
        # by user_id + range condition); streaming adds watermark state
        # expiry, which only SHRINKS the working set vs this batch probe.
        # streaming_interval_probe covers the stateful path itself.
        from graphique_spark import streaming as st

        if mult <= 4:
            ev = multiplied(spark, "events", mult)
        else:
            # remap user ids per copy: plain duplication makes every click
            # copy match every purchase copy (output quadratic in mult by
            # construction); disjoint per-copy key spaces keep the true
            # match count linear so the factor measures the join, not
            # output growth. One explode leg keeps the plan constant-size.
            ev = (
                spark.read.parquet(f"{SF_DIR}/events.parquet")
                .withColumn("__c", F.explode(F.lit(list(range(mult)))))
                .withColumn(
                    "user_id",
                    F.col("user_id") + F.col("__c").cast("bigint") * 10_000_000,
                )
                .drop("__c")
            )
        clicks = ev.filter(F.col("event_type") == "click")
        purchases = ev.filter(F.col("event_type") == "purchase")
        return st.interval_join(
            clicks.select("user_id", "ts", "value"),
            purchases.select("user_id", "ts", "value"),
            ["user_id"],
            upper="1 hour",
        )

    def rollup(mult):
        # two-level fine->coarse windowed rollup (chained aggs); explode
        # keeps the plan constant-size, duplicate timestamps just deepen
        # the fine-level groups — the regime the pre-reduction exists for
        from graphique_spark import streaming as stx
        from graphique_spark.sources import NANO_COLUMNS, normalize_nanos

        ev = normalize_nanos(
            spark.read.parquet(f"{SF_DIR}/events.parquet"),
            NANO_COLUMNS.get("events", ()),
        )
        if mult > 1:
            ev = ev.withColumn(
                "__c", F.explode(F.lit(list(range(mult))))
            ).drop("__c")
        return stx.windowed_rollup(
            ev, ts="ts", fine="5 minutes", coarse="1 hour",
            by=["event_type"], value="value",
        )

    def pii(mult):
        from graphique_spark.llm import text as t

        docs = multiplied(spark, "documents", mult)
        counts = t.pii_counts(F.col("text"))
        return docs.select(t.redact_pii(F.col("text")).alias("red"), *counts.values())

    def entropy(mult):
        from graphique_spark.llm import text as t

        return t.word_entropy(multiplied(spark, "documents", mult))

    def wsample(mult):
        from graphique_spark.llm import text as t

        docs = multiplied(spark, "documents", mult).select("doc_id", "n_chars")
        return t.weighted_sample(docs, 50, F.col("n_chars"))

    def dsir(mult):
        from pyspark.sql import functions as F

        from graphique_spark.llm import text as t

        docs = multiplied(spark, "documents", mult)
        tgt = (F.col("lang") == "en") & F.col("source").isin("src0", "src1")
        return t.dsir_log_weights(docs, tgt, buckets=1024)

    def hll(mult):
        from graphique_spark.operators import sketch

        li = multiplied(spark, "lineitem", mult)
        return sketch.hll_merge(sketch.hll_sketches(li, "l_partkey", by=["l_returnflag"]))

    def star_cc_chain(mult):
        # deep-chain CC: rounds must stay O(log n), not O(n)
        from graphique_spark.llm import dedup
        from graphique_spark.session import materialize

        n = 2000 * mult
        edges = spark.range(n - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        return dedup._star_components(
            materialize(dedup._undirected_edges(edges, "id_a", "id_b")), 24
        )

    def substring(mult):
        from graphique_spark.llm import dedup

        docs = multiplied(spark, "documents", mult) if mult <= 64 else docs_distinct(mult)
        return dedup.substring_duplicates(docs)

    def snapshot(mult):
        from graphique_spark.operators.diff import snapshot_diff

        docs = multiplied(spark, "documents", mult)
        old = docs.filter(F.col("doc_id") % 7 != 0)
        new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text"))).otherwise(
                F.col("text")
            ),
        )
        return snapshot_diff(old, new, keys=["doc_id"])

    def cdc(mult):
        from graphique_spark.operators.cdc import apply_cdc

        orders = multiplied(spark, "orders", mult).select(
            "o_orderkey", "o_totalprice"
        )
        key = F.col("o_orderkey")
        base = orders.where(key % 4 != 0)
        log = (
            orders.where(key % 4 == 0)
            .select("*", F.lit(1).alias("seq"), F.lit("insert").alias("op"))
            .unionByName(
                orders.where(key % 20 == 0).select(
                    "*", F.lit(2).alias("seq"), F.lit("delete").alias("op")
                )
            )
        )
        return apply_cdc(base, log, keys=["o_orderkey"], seq_col="seq")

    def bm25(mult):
        from graphique_spark.llm import text as t

        docs = multiplied(spark, "documents", mult)
        return t.bm25_topk(docs, ["spark", "hash", "window", "batch"], k=100)

    def lm_nll(mult):
        from graphique_spark.llm import text as t

        return t.unigram_lm_scores(multiplied(spark, "documents", mult))

    def lm_bigram(mult):
        from graphique_spark.llm import text as t

        return t.bigram_lm_scores(multiplied(spark, "documents", mult))

    def pagerank_probe(mult):
        from graphique_spark.operators.graph import pagerank

        orders = multiplied(spark, "orders", mult).select("o_orderkey", "o_custkey")
        li = multiplied(spark, "lineitem", mult).select("l_orderkey", "l_suppkey")
        edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
            F.col("o_custkey").alias("src"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
        )
        return pagerank(edges, iterations=3)

    def dhash(mult):
        from graphique_spark.llm import multimodal

        docs = multiplied(spark, "documents", mult).select("doc_id")
        hashes = multimodal.dhash_images(multimodal.attach_image_blobs(docs))
        return multimodal.phash_near_dups(hashes, max_hamming=3, bands=4)

    def basket(mult):
        li = multiplied(spark, "lineitem", mult).select("l_orderkey", "l_partkey").distinct()
        a = li.toDF("l_orderkey", "p_a")
        b = li.toDF("l_orderkey", "p_b")
        return (
            a.join(b, on="l_orderkey")
            .where(F.col("p_a") < F.col("p_b"))
            .groupBy("p_a", "p_b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
        )

    def li_mult(mult):
        # plain duplication is fine for the skew probes (the hot key is by
        # construction); explode beyond 16x keeps input synthesis cheap —
        # union-leg synthesis dominated the 64x budget in r07
        mk = multiplied_explode if mult > 16 else multiplied
        return mk(spark, "lineitem", mult)

    def skew_salted(mult):
        # adversarial skew: ONE hot key owns ~20% of all rows (l_orderkey
        # % 5 == 0), the rest spread over ~1000 keys. The salted two-phase
        # agg must hold near-linear scaling at 16x because the hot key's
        # partials spread over 32 reducers; a plain groupBy would serialize
        # 20% of the data through one task.
        from graphique_spark.operators.skew import two_phase_agg

        li = li_mult(mult).select(
            F.when(F.col("l_orderkey") % 5 == 0, F.lit("HOT"))
            .otherwise(F.concat(F.lit("k"), (F.col("l_orderkey") % 997).cast("string")))
            .alias("k"),
            "l_extendedprice",
            "l_quantity",
        )
        return two_phase_agg(
            li, ["k"], sums=["l_extendedprice", "l_quantity"], counts="n", salts=32
        )

    def skew_join_aqe(mult):
        # skewed JOIN under AQE: the hot fact key meets a small dim; AQE's
        # skew-split plus the broadcast threshold keep task p99 bounded
        li = li_mult(mult).select(
            F.when(F.col("l_orderkey") % 5 == 0, F.lit(0))
            .otherwise(F.col("l_orderkey") % 997)
            .alias("k"),
            "l_extendedprice",
        )
        dim = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 1.1).alias("rate")
        )
        return (
            li.join(dim, on="k")
            .groupBy("k")
            .agg(F.sum(F.col("l_extendedprice") * F.col("rate")).alias("v"))
        )

    def containment(mult):
        from graphique_spark.llm import dedup

        # duplicate-heavy fixture keeps output growth super-linear by
        # construction; the probe still measures operator scaling because
        # the prefix filter bounds the pair space (see 16x note). Explode
        # beyond 16x so input synthesis doesn't dominate the budget.
        mk = multiplied_explode if mult > 16 else multiplied
        return dedup.containment_pairs(mk(spark, "documents", mult), min_containment=0.8)

    def inverted(mult):
        from graphique_spark.llm import text as t

        return t.inverted_index(multiplied(spark, "documents", mult), max_postings=20)

    def _synth_partsupp():
        # deterministic partsupp derived from the 1x lineitem's distinct
        # (partkey, suppkey) pairs — the TPC-H invariant (lineitem pairs
        # come from partsupp), same construction as tests/test_partsupp.py
        li1 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        return (
            li1.select(
                F.col("l_partkey").alias("ps_partkey"),
                F.col("l_suppkey").alias("ps_suppkey"),
            )
            .distinct()
            .select(
                "ps_partkey",
                "ps_suppkey",
                ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 5000 + 1)
                .alias("ps_availqty"),
                (
                    ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 100000)
                    .cast("double") / 100.0 + 1.0
                ).alias("ps_supplycost"),
            )
        )

    def tpch_q9(mult):
        # the q9_product_type_profit shape (suite_partsupp): the fact side
        # (lineitem) grows mult-x while partsupp/orders stay 1x — the
        # realistic regime (facts outgrow dims). Composite-key shuffle
        # join lineitem x partsupp, orderkey join to orders, broadcast
        # name-filtered part + supplier + nation, (nation, year) agg.
        mk = multiplied_explode if mult > 16 else multiplied
        li = mk(spark, "lineitem", mult).select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount",
        )
        part = (
            spark.read.parquet(f"{SF_DIR}/part.parquet")
            .where(F.col("p_name").like("%rod"))
            .select("p_partkey")
        )
        li = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        ps = _synth_partsupp()
        joined = li.join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet").select(
            "s_suppkey", "s_nationkey"
        )
        nat = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
        profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
            "ps_supplycost"
        ) * F.col("l_quantity")
        return (
            joined.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(profit).alias("sum_profit"))
        )

    def tpch_q2(mult):
        # the q2_min_cost_supplier shape: partsupp ITSELF grows mult-x
        # (explode keeps the plan constant-size; duplicate rows deepen the
        # per-part window groups), then region-filtered broadcast join and
        # the correlated-min-as-window-min over ps_partkey.
        from pyspark.sql import Window

        ps = _synth_partsupp()
        if mult > 1:
            ps = ps.withColumn("__c", F.explode(F.lit(list(range(mult))))).drop("__c")
        supp = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
        nat = spark.read.parquet(f"{SF_DIR}/nation.parquet")
        reg = spark.read.parquet(f"{SF_DIR}/region.parquet").where(
            F.col("r_name") == "EUROPE"
        )
        rsup = (
            supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
            .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        )
        rps = ps.join(F.broadcast(rsup), ps["ps_suppkey"] == rsup["s_suppkey"])
        w = Window.partitionBy("ps_partkey")
        return rps.withColumn("__min_cost", F.min("ps_supplycost").over(w)).where(
            F.col("ps_supplycost") == F.col("__min_cost")
        )

    def url_pipeline(mult):
        from graphique_spark.llm import web

        # explode-based multiplication beyond 64: a mult-leg union OOMs
        # the driver on plan canonicalization before any work starts
        mk = multiplied_explode if mult > 64 else multiplied
        docs = mk(spark, "documents", mult).select(
            F.col("doc_id"),
            F.concat(
                F.lit("https://"),
                F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
                F.col("source"),
                F.lit("-data.com/docs/"),
                (F.col("doc_id") % 97).cast("string"),
                F.when(
                    F.col("doc_id") % 2 == 0, F.lit("?utm_source=x&id=1")
                ).otherwise(F.lit("")),
            ).alias("url"),
        )
        blocked = web.domain_blocklist_filter(
            docs, "url", ["src3-data.com", "src7-data.com"]
        )
        return web.url_dedup(blocked, "url", "doc_id")

    def html_extract(mult):
        from graphique_spark.llm import web

        docs = multiplied(spark, "documents", mult)
        html = F.concat(
            F.lit("<html><head><title>t</title><style>p{x}</style>"
                  "<script>var a=1;</script></head><body><nav>n</nav><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        )
        return docs.select(F.length(web.html_text(html)).alias("L"))

    def emb_near_dups(mult):
        from graphique_spark.llm import similarity

        # adaptive plane count (the default): bucket count grows with the
        # corpus so within-bucket pair work stays ~linear in rows
        return similarity.embedding_near_dups(
            jittered_embeddings(spark, mult), threshold=0.9
        )

    def knn_lsh(mult):
        from graphique_spark.llm import similarity

        emb = jittered_embeddings(spark, mult)
        queries = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
            F.col("vec_id") < 32
        )
        # fixed 32-query batch against a mult-x corpus: cost should track
        # bucket occupancy (linear in corpus), never |corpus| x |queries|
        return similarity.knn_join_lsh(emb, queries, k=10, num_planes=4)

    def assign(mult):
        from graphique_spark.llm import similarity

        return similarity.assign_clusters(
            jittered_embeddings(spark, mult), num_clusters=16
        ).select("vec_id", "cluster", "cos_to_centroid")

    def asof(mult):
        from graphique_spark.operators.asof import asof_join

        ev = multiplied(spark, "events", mult)
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("pts"), F.col("value").alias("pv")
        )
        return asof_join(
            clicks, purchases, on="ts", right_on="pts", by=["user_id"],
            direction="backward",
        )

    def entity(mult):
        import string

        from graphique_spark.operators.entity import blocked_fuzzy_pairs

        letters = string.ascii_lowercase
        base = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
            "p_partkey", "p_name"
        )
        copies = []
        for c in range(mult):
            rot = letters[c % 26:] + letters[: c % 26]
            # NEW ids per copy with distinct digit suffixes (key*mult + c):
            # the suffix blocking key spreads over the grown id space, so
            # block sizes stay ~constant and true match count stays linear
            # — the "corpus grew with new entities" regime. (A +c*10M
            # offset would keep last-4 digits identical across copies and
            # fake quadratic block growth no blocking scheme could avoid.)
            copies.append(
                base.select(
                    (F.col("p_partkey") * mult + c).alias("p_partkey"),
                    F.translate(F.col("p_name"), letters, rot).alias("p_name"),
                )
            )
        from functools import reduce

        recs = reduce(lambda a, b: a.unionByName(b), copies)
        keyed = recs.select(
            F.col("p_partkey").alias("rid"),
            F.concat_ws("#", "p_name", "p_partkey").alias("k"),
        )
        corrupted = keyed.where(F.col("rid") % 7 == 0).select(
            (F.col("rid") + 500_000_000).alias("rid"),
            F.concat(
                F.substring("k", 1, 2), F.expr("substring(k, 4)")
            ).alias("k"),
        )
        return blocked_fuzzy_pairs(
            keyed.unionByName(corrupted),
            key="k",
            block=F.substring(F.col("k"), -4, 4),
            id_col="rid",
            max_distance=2,
        )

    def kll(mult):
        from graphique_spark.operators import sketch

        li = multiplied(spark, "lineitem", mult)
        per = sketch.kll_quantiles(
            li, "l_extendedprice", by=["l_returnflag", "l_linestatus"],
            q=(0.5, 0.99),
        )
        # the operational story: rollup via sketch MERGE, never a re-scan
        return sketch.kll_merge_quantiles(per.drop("q50", "q99"), by=[], q=(0.5, 0.99))

    def rjoin(mult):
        from graphique_spark.operators.rangejoin import range_join

        li = multiplied(spark, "lineitem", mult).select(
            "l_orderkey", F.col("l_extendedprice").alias("price")
        )
        bands = spark.range(0, 60).select(
            F.col("id").alias("band_id"),
            (F.col("id") * 1000.0).alias("lo"),
            (F.col("id") * 1000.0 + 1500.0).alias("hi"),
        )
        return (
            range_join(li, bands, point="price", lo="lo", hi="hi", bucket_width=1000.0)
            .groupBy("band_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    probes = {
        "q1": q1,
        "kll_sketch": kll,
        "range_join": rjoin,
        "asof_join": asof,
        "entity_fuzzy": entity,
        "embedding_near_dups": emb_near_dups,
        "knn_join_lsh": knn_lsh,
        "assign_clusters": assign,
        "url_pipeline": url_pipeline,
        "html_extract": html_extract,
        "basket": basket,
        "containment": containment,
        "inverted_index": inverted,
        "bm25": bm25,
        "lm_nll": lm_nll,
        "lm_bigram": lm_bigram,
        "pagerank": pagerank_probe,
        "image_dhash": dhash,
        "substring_dedup": substring,
        "snapshot_diff": snapshot,
        "cdc_apply": cdc,
        "star_join": star_join,
        "window_rank": window_rank,
        "minhash": minhash,
        "ngram": ngram,
        "components": components,
        "segments": segments,
        "pii_redact": pii,
        "entropy": entropy,
        "weighted_sample": wsample,
        "dsir": dsir,
        "hll_sketch": hll,
        "star_cc_chain": star_cc_chain,
        "interval_join": interval_join,
        "windowed_rollup": rollup,
        "skew_salted": skew_salted,
        "skew_join_aqe": skew_join_aqe,
        "tpch_q9_partsupp": tpch_q9,
        "tpch_q2_minwin": tpch_q2,
    }
    # Fixture provenance per probe (ADVICE r07): union-based fixtures
    # multiply scan IO; explode-based ones read the file once (compute/
    # shuffle-only regime); caesar/jitter fixtures additionally make copies
    # content-DISTINCT so true pair counts stay linear. Factors are only
    # comparable across rounds within the same fixture kind.
    fixtures = {
        "entity_fuzzy": "caesar-remapped-ids-union",
        "incremental_dedup": "caesar-union index, fixed-size batch",
        "minhash": "caesar-union" if times <= 64 else "caesar-case-explode",
        "ngram": "caesar-union" if times <= 64 else "caesar-case-explode",
        "components": "caesar-union" if times <= 64 else "caesar-case-explode",
        "embedding_near_dups": "jitter-union",
        "knn_join_lsh": "jitter-union",
        "assign_clusters": "jitter-union",
        "star_cc_chain": "synthetic-range",
        "url_pipeline": "union" if times <= 64 else "explode",
        "skew_salted": "union" if times <= 16 else "explode",
        "skew_join_aqe": "union" if times <= 16 else "explode",
        "containment": "union" if times <= 16 else "explode",
        "segments": "union" if times <= 64 else "caesar-case-explode",
        "substring_dedup": "union" if times <= 64 else "caesar-case-explode",
        "interval_join": "union" if times <= 4 else "explode-remapped-ids",
        "windowed_rollup": "explode",
        "tpch_q9_partsupp": "union (fact side) / synthetic partsupp from 1x lineitem pairs"
        if times <= 16 else "explode (fact side) / synthetic partsupp from 1x lineitem pairs",
        "tpch_q2_minwin": "explode (partsupp) / synthetic partsupp from 1x lineitem pairs",
    }
    only = argv
    if only:
        probes = {k: v for k, v in probes.items() if k in only}
    # warmup
    q1(1).write.mode("overwrite").format("noop").save()

    report = {}
    for name, fn in probes.items():
        if warm:
            # warm BOTH plan families: probes that switch fixture
            # construction by multiplier (e.g. tpch_q9_partsupp: union at
            # <=16x vs explode above) would otherwise run the Nx leg
            # against a cold plan/codegen family — the exact first-plan
            # bias --warm exists to remove (ADVICE r09)
            fn(1).write.mode("overwrite").format("noop").save()
            fn(times).write.mode("overwrite").format("noop").save()
        t0 = time.perf_counter()
        fn(1).write.mode("overwrite").format("noop").save()
        t1 = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn(times).write.mode("overwrite").format("noop").save()
        tn = time.perf_counter() - t0
        report[name] = {
            "t_1x_sec": round(t1, 2),
            f"t_{times}x_sec": round(tn, 2),
            "scaling_factor": round(tn / t1, 2),
            "ideal": float(times),
            "fixture": fixtures.get(name, "union"),
            **({"warmed": True} if warm else {}),
        }
        print(f"{name}: 1x={t1:.2f}s {times}x={tn:.2f}s factor={tn / t1:.2f} (ideal {times})")

    if not only or "ann" in only:
        report["ann"] = ann_probes(spark, times)
        report["ann"]["fixture"] = "jitter-union"
    if "streaming" in only:
        report["streaming_upsert"] = streaming_upsert_probe(spark, times)
    if "incremental" in only:
        report["incremental_dedup"] = incremental_dedup_probe(spark, times)
    if "streaming_cdc" in only:
        report["streaming_cdc"] = streaming_cdc_probe(spark, times)
    if "streaming_interval" in only:
        report["streaming_interval"] = streaming_interval_probe(spark, times)
    print(json.dumps({"multiplier": times, "probes": report}))


def incremental_dedup_probe(spark, times: int):
    """Rolling-corpus dedup: a FIXED-SIZE daily batch probed against a
    PERSISTED MinHash index that grows ``times``-x (the llm/dedup.py:215
    100 TB pattern — you never re-pair the corpus). Index build/write is
    untimed prep; the timed query's wall must track the batch, not the
    index, because the index side is filtered map-side against the
    broadcast batch band keys — zero shuffles of index data. The index is
    persisted parquet as the docstring requires: probing the raw
    Caesar-union index PLAN instead re-shingles the corpus once per
    consumer (measured 47.6s vs 3.4s at 1x)."""
    import tempfile

    from pyspark.sql import functions as F

    from graphique_spark.llm import dedup

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 11 == 0
    )
    out = {"fixture": "caesar-union index (persisted parquet), fixed-size batch"}
    tmp = tempfile.mkdtemp(prefix="gs_probe_incr_")
    walls = {}
    for mult in (1, times):
        dest = f"{tmp}/idx_{mult}"
        dedup.minhash_index(multiplied_docs_distinct(spark, mult)).write.mode(
            "overwrite"
        ).parquet(dest)
        pidx = spark.read.parquet(dest)
        t0 = time.perf_counter()
        dedup.incremental_minhash_dedup(batch, pidx, min_jaccard=0.5).write.mode(
            "overwrite"
        ).format("noop").save()
        walls[mult] = round(time.perf_counter() - t0, 2)
        print(f"incremental_dedup {mult}x index: t={walls[mult]}s")
    out["t_1x_sec"] = walls[1]
    out[f"t_{times}x_sec"] = walls[times]
    out["scaling_factor"] = round(walls[times] / walls[1], 2)
    out["ideal"] = float(times)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return out


def streaming_cdc_probe(spark, times: int):
    """History-flatness probe for the streaming CDC-apply sink (the
    upsert probe's twin — together they cover the two most expensive
    suite entries): 12 partition-local micro-batches of an op log (batch
    b inserts cohort-b keys, then updates a fifth and deletes a seventh of
    them within the same batch), so the materialized snapshot grows 12x
    over the run while each batch's apply_cdc reads exactly one partition.
    Late batches must not be slower than early ones."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from graphique_spark import streaming as st

    nbatches = 12
    workdir = os.path.join(tempfile.gettempdir(), "gs_probe_cdc_hist")
    shutil.rmtree(workdir, ignore_errors=True)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    key = F.col("o_orderkey")
    # carry the update/delete cohort flags THROUGH the select: filtering on
    # o_orderkey after it's dropped only resolves via Spark's
    # missing-reference analyzer rule for Filter, which is fragile across
    # engine versions (ADVICE r08)
    base = orders.withColumn("__b", F.pmod(key, F.lit(nbatches)).cast("int")).select(
        F.col("__b").cast("bigint").alias("cohort"),
        (key * nbatches + F.col("__b")).alias("k"),
        F.col("o_totalprice").alias("v"),
        (key % 5 == 0).alias("__upd"),
        (key % 7 == 0).alias("__del"),
        "__b",
    )
    log = (
        base.select("cohort", "k", "v", F.lit(1).alias("seq"), F.lit("insert").alias("op"), "__b")
        .unionByName(
            base.where("__upd").select(
                "cohort", "k", (F.col("v") + 100.0).alias("v"),
                F.lit(2).alias("seq"), F.lit("update").alias("op"), "__b",
            )
        )
        .unionByName(
            base.where("__del").select(
                "cohort", "k", F.lit(None).cast("double").alias("v"),
                F.lit(3).alias("seq"), F.lit("delete").alias("op"), "__b",
            )
        )
    )
    src = f"{workdir}/src"
    log.repartition(nbatches, "__b").write.partitionBy("__b").mode(
        "overwrite"
    ).parquet(src)
    stream = st.read_event_stream(
        spark,
        src,
        schema="cohort bigint, k bigint, v double, seq int, op string, __b int",
        max_files_per_trigger=1,
    ).drop("__b")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = st.cdc_sink(
            stream,
            dest=f"{workdir}/table",
            keys=["cohort", "k"],
            checkpoint=f"{workdir}/ckpt",
            seq_col="seq",
            op_col="op",
            available_now=True,
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    batch_ms = [
        p["durationMs"]["triggerExecution"]
        for p in (q.recentProgress or [])
        if p.get("numInputRows", 0) > 0 and "durationMs" in p
    ]
    shutil.rmtree(workdir, ignore_errors=True)
    early = sum(batch_ms[1:4]) / 3 if len(batch_ms) >= nbatches else None
    late = sum(batch_ms[-3:]) / 3 if len(batch_ms) >= nbatches else None
    out = {
        "per_batch_ms": batch_ms,
        "early_mean_ms": round(early, 1) if early else None,
        "late_mean_ms": round(late, 1) if late else None,
        "late_vs_early_batch_ratio": round(late / early, 2) if early else None,
        "fixture": "12 partition-local op-log micro-batches (snapshot grows 12x over the run)",
    }
    if early:
        print(f"streaming cdc history: early={early:.0f}ms late={late:.0f}ms ratio={late / early:.2f}")
    return out


def streaming_interval_probe(spark, times: int):
    """State-boundedness probe for the stream-stream interval join
    (streaming/__init__.py interval_join — the one streaming operator with
    no scale probe through r08). 12 micro-batches per side, each batch one
    hour later in EVENT TIME (mtime-pinned so the file source replays them
    in order), joined on user_id within [ts, ts+1h] under a 2h watermark.

    The claim under test is that join state is bounded by
    (watermark + interval) x arrival rate — never the full history: with
    old state expiring as the watermark advances, per-batch
    triggerExecution must stay flat (late_vs_early_batch_ratio ~1) and the
    state-store row count must PLATEAU after the first ~4 batches instead
    of growing with the batch index. A leak (state rows tracking total
    input) is exactly what would OOM a 1000-executor cluster joining two
    100 TB streams, and no batch-plan probe can see it."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from graphique_spark import streaming as st

    nbatches = 12
    workdir = os.path.join(tempfile.gettempdir(), "gs_probe_sinterval")
    shutil.rmtree(workdir, ignore_errors=True)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    # batch b = cohort pmod(event_id, 12); its rows get event times inside
    # hour b (spread by event_id so right rows genuinely land both in and
    # out of each left row's 1h window)
    cohort = F.pmod(F.col("event_id"), F.lit(nbatches)).cast("int")
    stamped = ev.select(
        "user_id",
        "value",
        "event_type",
        cohort.alias("__b"),
        (
            F.timestamp_seconds(
                F.lit(1_700_000_000)
                + cohort.cast("bigint") * 3600
                + F.pmod(F.col("event_id"), F.lit(3600))
            )
        ).alias("ts"),
    )
    sides = {
        "left": stamped.filter(F.col("event_type") == "click"),
        "right": stamped.filter(F.col("event_type") == "purchase"),
    }
    for side, df in sides.items():
        src = f"{workdir}/{side}"
        for b in range(nbatches):
            df.filter(F.col("__b") == b).select(
                "user_id", "ts", "value"
            ).coalesce(1).write.mode("append").parquet(src)
            # pin mtimes so the file source replays batches in event-time
            # order (it orders by modification time)
            for fn in os.listdir(src):
                path = os.path.join(src, fn)
                if fn.endswith(".parquet") and os.path.getmtime(path) > 1_000_000 + b:
                    os.utime(path, (1_000_000 + b, 1_000_000 + b))
    left = st.read_event_stream(
        spark, f"{workdir}/left", schema="user_id bigint, ts timestamp, value double",
        max_files_per_trigger=1,
    )
    right = st.read_event_stream(
        spark, f"{workdir}/right", schema="user_id bigint, ts timestamp, value double",
        max_files_per_trigger=1,
    )
    joined = st.interval_join(
        left, right, ["user_id"], upper="1 hour", watermark="2 hours", streaming=True
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            joined.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    batch_ms, state_rows = [], []
    for p in q.recentProgress or []:
        if p.get("numInputRows", 0) > 0 and "durationMs" in p:
            batch_ms.append(p["durationMs"]["triggerExecution"])
            ops = p.get("stateOperators") or []
            state_rows.append(sum(op.get("numRowsTotal", 0) for op in ops))
    shutil.rmtree(workdir, ignore_errors=True)
    early = sum(batch_ms[1:4]) / 3 if len(batch_ms) >= nbatches else None
    late = sum(batch_ms[-3:]) / 3 if len(batch_ms) >= nbatches else None
    plateau = (
        round(max(state_rows[-3:]) / max(max(state_rows[3:6]), 1), 2)
        if len(state_rows) >= nbatches
        else None
    )
    out = {
        "per_batch_ms": batch_ms,
        "state_rows_per_batch": state_rows,
        "early_mean_ms": round(early, 1) if early else None,
        "late_mean_ms": round(late, 1) if late else None,
        "late_vs_early_batch_ratio": round(late / early, 2) if early else None,
        # ~1.0 == state expired by the watermark; >>1 == a state leak
        "state_rows_late_vs_plateau": plateau,
        "fixture": "12 hour-stepped mtime-ordered micro-batches per side (history grows 12x; watermark 2h, interval 1h)",
    }
    if early:
        print(
            f"streaming interval join: early={early:.0f}ms late={late:.0f}ms "
            f"ratio={late / early:.2f} state_plateau_ratio={plateau}"
        )
    return out


def streaming_upsert_probe(spark, times: int):
    """Commit-cost scaling for the foreachBatch upsert sink (the suite's
    two most expensive entries, ``stream_upsert_totals`` /
    ``stream_cdc_snapshot``, share this machinery). Two claims:

    * rows: ``times``x the rows AND distinct keys per micro-batch, batch
      count fixed at 3 — wall factor should sit well under ``times``
      (per-batch state commit + partition rewrite overhead dominates at
      sf0.1 batch sizes).
    * history: 12 PARTITION-LOCAL micro-batches (batch b carries only
      cohort-b keys — the date-partitioned ingest pattern at 100 TB), so
      the stored table grows 12x over the run while each batch touches one
      partition. The LAST batches must not be slower than the EARLY ones:
      the merge reads only the partitions the batch touches, never table
      history. (A batch that sprayed keys over every cohort would re-read
      the whole table by design — that regime is the `rows` probe's.)
      Reported as ``late_vs_early_batch_ratio`` over per-batch
      triggerExecution times from the streaming progress log.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from graphique_spark import streaming as st

    base = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "value"
    )

    def run(mult: int, nbatches: int, tag: str, partition_local: bool = False):
        workdir = os.path.join(tempfile.gettempdir(), f"gs_probe_upsert_{tag}")
        shutil.rmtree(workdir, ignore_errors=True)
        ev = base
        if mult > 1:
            # remap BOTH ids per copy: mult-x rows, mult-x distinct keys,
            # so state rows and changed-key batch output scale too (same-id
            # copies would only inflate the pre-agg, not the sink's work)
            ev = (
                ev.withColumn("__c", F.explode(F.lit(list(range(mult)))))
                .select(
                    (F.col("event_id") * mult + F.col("__c")).alias("event_id"),
                    (F.col("user_id") + F.col("__c") * 1_000_000).alias("user_id"),
                    "value",
                )
            )
        src = f"{workdir}/src"
        ev.withColumn(
            "__b", F.pmod(F.col("event_id"), F.lit(nbatches)).cast("int")
        ).repartition(nbatches, "__b").write.partitionBy("__b").mode(
            "overwrite"
        ).parquet(src)
        stream = st.read_event_stream(
            spark,
            src,
            schema="event_id bigint, user_id bigint, value double, __b int",
            max_files_per_trigger=1,
        )
        if partition_local:
            # batch b carries ONLY cohort-b keys: the table grows by one
            # new hive partition per batch, and the merge's touched-
            # partition read stays one partition no matter how much
            # history has accumulated
            cohort = F.col("__b").cast("bigint")
            user = F.col("user_id") + F.col("__b").cast("bigint") * 1_000_000
        else:
            cohort = F.col("user_id") % 8
            user = F.col("user_id")
        totals = stream.groupBy(
            cohort.alias("cohort"), user.alias("user_id")
        ).agg(F.count(F.lit(1)).alias("events_n"), F.sum("value").alias("value_sum"))
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        t0 = time.perf_counter()
        try:
            q = st.upsert_sink(
                totals,
                dest=f"{workdir}/table",
                keys=["cohort", "user_id"],
                checkpoint=f"{workdir}/ckpt",
                available_now=True,
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        wall = time.perf_counter() - t0
        batch_ms = [
            p["durationMs"]["triggerExecution"]
            for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0 and "durationMs" in p
        ]
        shutil.rmtree(workdir, ignore_errors=True)
        return round(wall, 2), batch_ms

    out = {}
    t1, _ = run(1, 3, "base")
    tn, _ = run(times, 3, "rows")
    out["rows_scaled"] = {
        "t_1x_sec": t1,
        f"t_{times}x_sec": tn,
        "scaling_factor": round(tn / t1, 2),
        "ideal": float(times),
        "batches": 3,
        "fixture": "explode-remapped-keys",
    }
    print(f"streaming rows {times}x: 1x={t1:.2f}s {times}x={tn:.2f}s factor={tn / t1:.2f}")

    _, batch_ms = run(1, 12, "hist", partition_local=True)
    early = sum(batch_ms[1:4]) / 3 if len(batch_ms) >= 12 else None
    late = sum(batch_ms[-3:]) / 3 if len(batch_ms) >= 12 else None
    out["history_12_batches"] = {
        "per_batch_ms": batch_ms,
        "early_mean_ms": round(early, 1) if early else None,
        "late_mean_ms": round(late, 1) if late else None,
        # flat == commit cost tracks batch size, not accumulated history
        # (batch 0 excluded from `early`: it carries state-store init)
        "late_vs_early_batch_ratio": round(late / early, 2) if early else None,
        "fixture": "12 partition-local single-file micro-batches (table grows 12x over the run)",
    }
    if early:
        print(f"streaming history: early={early:.0f}ms late={late:.0f}ms ratio={late / early:.2f}")
    return out


def jittered_embeddings(spark, mult: int):
    """``mult`` copies of sf0.1 embeddings with a deterministic element-wise
    jitter per copy (amplitude ~1 data stddev) so the synthetic vectors are
    *distinct and separable* — plain duplicates would share every LSH bucket
    by construction and fake a quadratic blowup no bucketing scheme could
    avoid."""
    from functools import reduce

    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    copies = []
    for c in range(mult):
        if c == 0:
            copies.append(base.select("vec_id", "embedding"))
            continue
        phase = float(c) * 12.9898 + 3.14
        jit = base.select(
            (F.col("vec_id") + F.lit(c * 10_000_000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x + F.sin((i.cast("double") + 1.0) * F.lit(phase)) * F.lit(0.15)
                ).cast("float"),
            ).alias("embedding"),
        )
        copies.append(jit)
    return reduce(lambda a, b: a.unionByName(b), copies)


def ann_probes(spark, times: int):
    """Scale evidence for the ANN paths reworked in round 2:

    * embedding near-dup blocking — within-bucket candidate pairs
      (sum of m*(m-1)/2 over buckets) at 1x / times / times^2 the corpus,
      with the corpus-scaled plane count `embedding_near_dups` actually
      uses vs the plane count frozen at 4 (the round-1 weakness). Adaptive
      should grow ~linearly with rows; frozen ~quadratically.
    * IVF top-k with fixed-k centroids — wall-clock factor; cost is
      n x k with k constant, so it should scale ~linearly in rows.
    """
    import math

    from pyspark.sql import functions as F

    from graphique_spark.llm import similarity

    out = {"pair_growth": [], "ivf": []}
    mults = [1, times, times * times]
    for mult in mults:
        emb = jittered_embeddings(spark, mult)
        n = emb.count()
        dim = similarity._dim(emb, "embedding")
        entry = {"mult": mult, "rows": n}
        for label, num_planes in (
            ("adaptive", max(4, math.ceil(math.log2(max(n, 1) / 256 + 1)))),
            ("frozen4", 4),
        ):
            planes = [similarity._hyperplane(p, dim) for p in range(num_planes)]
            pairs = (
                emb.select(
                    similarity.lsh_bucket(F.col("embedding"), planes).alias("b")
                )
                .groupBy("b")
                .agg(F.count(F.lit(1)).alias("m"))
                .select(F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("p"))
                .first()["p"]
            )
            entry[label] = {"planes": num_planes, "candidate_pairs": int(pairs)}
        out["pair_growth"].append(entry)
        print(
            f"ann pair growth {mult}x: rows={n} "
            f"adaptive={entry['adaptive']['candidate_pairs']} "
            f"(planes={entry['adaptive']['planes']}) "
            f"frozen4={entry['frozen4']['candidate_pairs']}"
        )

        qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        t0 = time.perf_counter()
        similarity.ivf_topk(emb, qvec, k=50, num_centroids=16, nprobe=2).write.mode(
            "overwrite"
        ).format("noop").save()
        ivf_t = time.perf_counter() - t0
        out["ivf"].append({"mult": mult, "rows": n, "t_sec": round(ivf_t, 2)})
        print(f"ann ivf {mult}x: rows={n} t={ivf_t:.2f}s")

    base_rows = out["pair_growth"][0]["rows"]
    for entry in out["pair_growth"]:
        row_factor = entry["rows"] / base_rows
        entry["row_factor"] = round(row_factor, 1)
        for label in ("adaptive", "frozen4"):
            base_pairs = max(out["pair_growth"][0][label]["candidate_pairs"], 1)
            entry[label]["pair_factor"] = round(
                entry[label]["candidate_pairs"] / base_pairs, 1
            )
    return out


if __name__ == "__main__":
    main()
