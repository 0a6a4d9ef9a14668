"""LLM-data-pipeline queries (dedup, similarity, text analysis, multimodal)
with DuckDB oracles.

The md5-based hashing in graphique_spark.llm is chosen so every stage —
shingling, MinHash, LSH banding, SimHash bit votes, deterministic
hyperplanes — can be reproduced exactly in the SQL oracle. Some oracles are
generated programmatically (f-strings) because they unroll hash seeds/bits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphique_spark import streaming
from graphique_spark.llm import dedup, multimodal, similarity, text
from graphique_spark.session import materialize
from graphique_spark.suite import ORACLES, fround, query, table

def _spread(ds):
    """CPU-dense per-row suite queries: unlock map-side parallelism when the
    scan is a single small row group (see dedup.ensure_parallelism)."""
    from graphique_spark.dataset import Dataset

    return Dataset(dedup.ensure_parallelism(ds.df))


# --- shared SQL fragments ---------------------------------------------------

# exploded (doc_id, shingle-hash) stream: one md5 per distinct 5-gram,
# folded to a 60-bit long — mirrors dedup.hash60 over exploded shingles
_EX_SQL = """
  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(list_distinct(
      list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                     i -> substr(text, i, 5)))) AS s
    FROM documents)
"""

_NUM_HASHES, _BANDS = 16, 4
_ROWS = _NUM_HASHES // _BANDS
_M = 2_147_483_647
_min_items = ", ".join(
    f"min(({1_000_003 * i + 12_345} * (h % {_M}) + {999_983 * i + 7}) % {_M}) AS m{i}"
    for i in range(_NUM_HASHES)
)
_band_keys = ", ".join(
    "md5(" + " || '|' || ".join(f"m{b * _ROWS + r}" for r in range(_ROWS)) + ")"
    for b in range(_BANDS)
)


@query(
    "text_stats",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS tokens,
           length(text) AS chars,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                   '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    docs = _spread(table(spark, sf_dir, "documents"))
    return (
        docs.project(
            {
                "tokens": text.token_count(F.col("text")),
                "chars": F.length("text"),
                "fingerprint": text.doc_fingerprint(F.col("text")),
            }
        )
        .select("doc_id", "tokens", "chars", "fingerprint")
        .df
    )


def _hits_sql(words) -> str:
    pattern = "\\b(" + "|".join(words) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


def _langid_case() -> str:
    """Mirror language_id's sequential strictly-greater update: a later
    language wins only if its hits exceed every earlier one (and zero)."""
    langs = list(text.STOPWORDS)
    branches = []
    for idx in range(len(langs) - 1, -1, -1):
        lang = langs[idx]
        earlier = ", ".join(_hits_sql(text.STOPWORDS[l]) for l in langs[:idx])
        guard = f"greatest(0{', ' + earlier if earlier else ''})"
        branches.append(f"WHEN {_hits_sql(text.STOPWORDS[lang])} > {guard} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


@query(
    "text_langid",
    f"""
    SELECT detected, count(*) AS n FROM (
      SELECT {_langid_case()} AS detected FROM documents
    ) GROUP BY detected
    """,
)
def text_langid(spark, sf_dir):
    docs = _spread(table(spark, sf_dir, "documents"))
    return (
        docs.project({"detected": text.language_id(F.col("text"))})
        .group(by=["detected"], counts="n")
        .df
    )


# rounded quality score over a `w`-shaped CTE (doc_id, text, words, tokens,
# stop_hits) — shared by text_quality and corpus_curation
_QUALITY_CTE = """
      SELECT *,
             regexp_extract_all(text, '[A-Za-z]+') AS words,
             len(string_split_regex(trim(text), '\\s+')) AS tokens,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a)\\b')) AS stop_hits
      FROM documents
"""
_QUALITY_EXPR = """floor((
        least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
      + least(CAST(stop_hits AS DOUBLE) / tokens * 5.0, 1.0)
      + CASE WHEN (CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words))
                  BETWEEN 3 AND 8 THEN 1.0 ELSE 0.5 END
      + CASE WHEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                  / length(text) < 0.1 THEN 1.0 ELSE 0.5 END
    ) / 4.0 * 1000000 + 0.5) / 1000000"""


@query(
    "text_quality",
    f"""
    WITH w AS ({_QUALITY_CTE})
    SELECT doc_id, {_QUALITY_EXPR} AS quality
    FROM w
    """,
)
def text_quality(spark, sf_dir):
    docs = _spread(table(spark, sf_dir, "documents"))
    return (
        docs.project({"quality": fround(text.quality_score(F.col("text")), 6)})
        .select("doc_id", "quality")
        .df
    )


@query(
    "text_repetition",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                         x -> x <> '') AS lines,
             string_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ), g AS (
      SELECT doc_id, lines,
             list_transform(generate_series(0, greatest(len(words) - 2, 1) - 1),
                            i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS g3,
             list_transform(generate_series(0, greatest(len(words) - 1, 1) - 1),
                            i -> array_to_string(list_slice(words, i + 1, i + 2), ' ')) AS g2
      FROM w
    )
    SELECT doc_id,
      floor((CASE WHEN len(lines) > 0
        THEN (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
        ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_line_frac,
      floor(((len(g3) - len(list_distinct(g3))) / CAST(len(g3) AS DOUBLE))
        * 1000000 + 0.5) / 1000000 AS dup_3gram_frac,
      floor((list_max(list_transform(list_distinct(g2),
                                     d -> len(list_filter(g2, x -> x = d))))
        / CAST(len(g2) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS top_2gram_frac
    FROM g
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher/MassiveText repetition filters (Rae et al. 2021, app. A1.1):
    duplicate-line fraction, duplicate-3-gram fraction, and the share of
    2-gram occurrences taken by the most frequent 2-gram. All three are
    in-row higher-order-function arithmetic — the 100 TB plan is a single
    embarrassingly parallel scan, no explode and no shuffle."""
    docs = _spread(table(spark, sf_dir, "documents"))
    return (
        docs.project(
            {
                "dup_line_frac": fround(text.dup_line_fraction(F.col("text")), 6),
                "dup_3gram_frac": fround(text.dup_ngram_fraction(F.col("text"), 3), 6),
                "top_2gram_frac": fround(text.top_ngram_fraction(F.col("text"), 2), 6),
            }
        )
        .select("doc_id", "dup_line_frac", "dup_3gram_frac", "top_2gram_frac")
        .df
    )


@query(
    "decontaminate",
    """
    WITH grams AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
      FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 generate_series(0, greatest(len(words) - 2, 1) - 1),
                 i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')))) AS g
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
              FROM documents))
    ),
    bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 50 = 0)
    SELECT g.doc_id, CAST(count(DISTINCT g.h) AS BIGINT) AS n_shared
    FROM grams g JOIN bench b ON g.h = b.h
    WHERE g.doc_id % 50 <> 0
    GROUP BY g.doc_id
    """,
)
def decontaminate(spark, sf_dir):
    """Train/eval decontamination: every 50th doc plays the held-out
    benchmark; corpus docs sharing any word 3-gram with it are flagged
    with their distinct shared-gram count. (Real pipelines use longer
    n-grams — 3 keeps the synthetic corpus's overlap non-trivial.)"""
    docs = table(spark, sf_dir, "documents").df
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return text.contaminated_docs(corpus, bench, n=3)


_DECON_ORACLE = ORACLES["decontaminate"]


@query("decontaminate_bloom", _DECON_ORACLE)
def decontaminate_bloom(spark, sf_dir):
    """Same contamination semantics through the Bloom prefilter: corpus
    grams are rejected map-side against a broadcast bitmap before any
    shuffle; the exact verify join repairs false positives, so the oracle
    is byte-identical to ``decontaminate``'s. The scale case: a benchmark
    gram set too large for a broadcast hash join still folds into a
    fixed-size bitmap."""
    docs = table(spark, sf_dir, "documents").df
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return text.contaminated_docs_bloom(corpus, bench, n=3)


@query(
    "corpus_curation",
    f"""
    WITH w AS ({_QUALITY_CTE}),
    flags AS (
      SELECT source,
             doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup,
             {_QUALITY_EXPR} < 0.5 AS low_quality,
             CASE WHEN len(lines) > 0
               THEN (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
               ELSE 0.0 END > 0.2 AS repetitive
      FROM (
        SELECT *, list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                              x -> x <> '') AS lines
        FROM w)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(sum(CASE WHEN low_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
           CAST(sum(CASE WHEN repetitive THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
           CAST(sum(CASE WHEN NOT (is_dup OR low_quality OR repetitive) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM flags GROUP BY source
    """,
)
def corpus_curation(spark, sf_dir):
    """End-to-end curation report — the composed decision a training-data
    pipeline makes per document (exact-dup? low-quality? repetitive?),
    rolled up to per-source retention counts. Scale shape: one scan
    computing all flags in-row, one hash-partitioned window over the
    md5 content key (never a global window), one partial-aggregated
    groupBy(source). Quality is compared on the 6-decimal rounded value so
    the threshold test is bit-identical across engines."""
    from pyspark.sql import Window

    docs = dedup.ensure_parallelism(table(spark, sf_dir, "documents").df)
    is_dup = F.col("doc_id") > F.min("doc_id").over(
        Window.partitionBy(F.md5(F.col("text")))
    )
    flags = docs.select(
        "source",
        is_dup.alias("is_dup"),
        (fround(text.quality_score(F.col("text")), 6) < 0.5).alias("low_quality"),
        (text.dup_line_fraction(F.col("text")) > 0.2).alias("repetitive"),
    )
    kept = ~(F.col("is_dup") | F.col("low_quality") | F.col("repetitive"))
    flag_count = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint")
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("total"),
        flag_count("is_dup").alias("n_dups"),
        flag_count("low_quality").alias("n_low_quality"),
        flag_count("repetitive").alias("n_repetitive"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )


@query(
    "dedup_exact",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 3 = 0
    )
    SELECT content_hash, n_copies, keep_id FROM (
      SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
      FROM corpus GROUP BY 1
    ) WHERE n_copies > 1
    """,
)
def dedup_exact(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").df
    # one scan emits each doc + its (conditional) re-ingested copy — the
    # union of two projections of the same table read it twice
    corpus = docs.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(F.col("doc_id"), F.col("text")),
                    F.when(
                        F.col("doc_id") % 3 == 0,
                        F.struct(
                            (F.col("doc_id") + 100000).alias("doc_id"),
                            F.col("text"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__r")
    ).select("__r.*")
    return dedup.exact_duplicates(corpus)


_MINHASH_ORACLE = f"""
    WITH ex AS ({_EX_SQL}),
    sig AS (SELECT doc_id, list(DISTINCT h) AS hs, {_min_items} FROM ex GROUP BY doc_id),
    bands AS (
      SELECT doc_id,
             unnest([{_band_keys}]) AS key,
             unnest([{", ".join(str(b) for b in range(_BANDS))}]) AS band
      FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                               AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
             / len(list_distinct(sa.hs || sb.hs)) AS jaccard
    FROM cand JOIN sig sa ON cand.id_a = sa.doc_id
              JOIN sig sb ON cand.id_b = sb.doc_id
"""


@query("dedup_minhash", _MINHASH_ORACLE)
def dedup_minhash(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").df
    return dedup.minhash_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.0
    )


_INCR_SPLIT = 400  # docs below are the "existing corpus", the rest the batch


@query(
    "dedup_incremental",
    f"""
    WITH ex AS ({_EX_SQL}),
    sig AS (SELECT doc_id, list(DISTINCT h) AS hs, {_min_items} FROM ex GROUP BY doc_id),
    bands AS (
      SELECT doc_id,
             unnest([{_band_keys}]) AS key,
             unnest([{", ".join(str(b) for b in range(_BANDS))}]) AS band
      FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id >= {_INCR_SPLIT} AND b.doc_id < {_INCR_SPLIT}
    )
    SELECT new_id, index_id,
           CAST(len(list_intersect(sn.hs, si.hs)) AS DOUBLE)
             / len(list_distinct(sn.hs || si.hs)) AS jaccard
    FROM cand JOIN sig sn ON cand.new_id = sn.doc_id
              JOIN sig si ON cand.index_id = si.doc_id
    """,
)
def dedup_incremental(spark, sf_dir):
    """Rolling-corpus dedup: the persisted MinHash index of the existing
    corpus (doc_id < split) is probed by a new ingest batch (doc_id >=
    split) — index side never re-shingled, never shuffled (new batch
    broadcasts). The oracle recomputes both signature sets and restricts
    candidates to new-vs-index pairs."""
    import os
    import tempfile

    docs = table(spark, sf_dir, "documents").df
    existing = docs.filter(F.col("doc_id") < _INCR_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT)
    # persist the index, as the pattern prescribes: index rows are written
    # once per corpus; probing an unpersisted index plan would re-derive
    # its band keys from text on every consumer
    idx_path = os.path.join(tempfile.gettempdir(), f"graphique_spark_mh_index_{os.getpid()}")
    # REBALANCE before the write (guide: coalesce on write): the signature
    # stage runs spread across every core, which would otherwise persist
    # one tiny parquet file per task; AQE sizes the output partitions to
    # advisoryPartitionSizeInBytes, so the index lands as sensibly-sized
    # files at any scale and the probe's re-read lists far fewer footers
    dedup.minhash_index(existing, num_hashes=_NUM_HASHES, bands=_BANDS).hint(
        "rebalance"
    ).write.mode("overwrite").parquet(idx_path)
    index = spark.read.parquet(idx_path)
    return dedup.incremental_minhash_dedup(
        batch, index, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.0
    )


_BITS = 16
_bit_votes = ",\n      ".join(
    f"CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 "
    f"THEN {1 << b} ELSE 0 END AS bit{b}"
    for b in range(_BITS)
)
_bit_sum = " + ".join(f"bit{b}" for b in range(_BITS))


@query(
    "dedup_simhash",
    f"""
    WITH ex AS ({_EX_SQL}),
    votes AS (
      SELECT doc_id,
      {_bit_votes}
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, CAST({_bit_sum} AS BIGINT) AS simhash FROM votes
    """,
)
def dedup_simhash(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").df
    return dedup.simhash_table(docs, bits=_BITS)


@query(
    "dedup_ngram_jaccard",
    """
    WITH d AS (
      SELECT doc_id, list_sort(list_distinct(list_transform(
               list_distinct(list_transform(
                 generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
               )),
               g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
             ))) AS ng
      FROM documents
    ),
    pref AS (
      SELECT doc_id, unnest(list_slice(ng, 1, len(ng) - CAST(ceil(0.7 * len(ng)) AS INT) + 1)) AS tok
      FROM d
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(da.ng, db.ng)) AS DOUBLE)
             / len(list_distinct(da.ng || db.ng)) AS jaccard
    FROM cand JOIN d da ON cand.id_a = da.doc_id
              JOIN d db ON cand.id_b = db.doc_id
    WHERE CAST(len(list_intersect(da.ng, db.ng)) AS DOUBLE)
            / len(list_distinct(da.ng || db.ng)) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact set-similarity join at J>=0.7 via prefix filtering (no
    blocking loss): see dedup.ngram_jaccard_pairs. Higher threshold =
    shorter prefixes = fewer candidates (prefix is (1-t)|A|+1 tokens)."""
    docs = table(spark, sf_dir, "documents").df
    return dedup.ngram_jaccard_pairs(docs, min_jaccard=0.7)


def _cosine_sql(k: int, extra_where: str = "") -> str:
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
             AS raw_cos
      FROM embeddings e, q {extra_where}
    )
    SELECT vec_id, floor(raw_cos * 1000000 + 0.5) / 1000000 AS cosine
    FROM sims ORDER BY cosine DESC, vec_id LIMIT {k}
    """


@query("similarity_topk", _cosine_sql(20))
def similarity_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").df
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.brute_force_topk(emb, qvec, k=500)
    return (
        out.withColumn("cosine", fround(F.col("cosine"), 6))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(20)
    )


# similarity_ann_lsh is registered at the bottom of this module (its oracle
# reuses the hyperplane literals defined for dedup_embedding_cosine)


@query(
    "multimodal_decode",
    """
    WITH px AS (
      SELECT doc_id,
             8 + doc_id % 8 AS w,
             8 + (doc_id // 8) % 8 AS h,
             flatten(list_transform(generate_series(0, 8 + (doc_id // 8) % 8 - 1), y ->
               list_transform(generate_series(0, 8 + doc_id % 8 - 1), x ->
                 x + y + doc_id))) AS base
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                + w * h * 3 AS INT) AS byte_len,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height, 3 AS channels,
           array_to_string(list_transform([
               list_aggregate(list_transform(base, v -> CAST(v % 256 AS DOUBLE)), 'avg') / 255.0,
               list_aggregate(list_transform(base, v -> CAST((v + 1) % 256 AS DOUBLE)), 'avg') / 255.0,
               list_aggregate(list_transform(base, v -> CAST((v + 2) % 256 AS DOUBLE)), 'avg') / 255.0,
               least(list_aggregate(list_transform(base, v -> v % 256), 'min'),
                     list_aggregate(list_transform(base, v -> (v + 1) % 256), 'min'),
                     list_aggregate(list_transform(base, v -> (v + 2) % 256), 'min')) / 255.0,
               greatest(list_aggregate(list_transform(base, v -> v % 256), 'max'),
                        list_aggregate(list_transform(base, v -> (v + 1) % 256), 'max'),
                        list_aggregate(list_transform(base, v -> (v + 2) % 256), 'max')) / 255.0
             ], f -> CAST(floor(f * 1000000 + 0.5) AS BIGINT)), ',') AS features_csv
    FROM px
    """,
)
def multimodal_decode(spark, sf_dir):
    """REAL image decode: P6 PPM blobs (synthesized with a closed-form
    gradient so DuckDB can verify independently) parsed with regex +
    numpy.frombuffer; features are actual pixel statistics. The decoded
    feature vector is serialized to a CSV of 1e6-scaled integers — the
    driver's canonicalizer can't hash raw lists."""
    docs = table(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 100)
    with_blob = multimodal.attach_image_blobs(docs.select("doc_id"))
    decoded = multimodal.decode_images(with_blob).withColumn(
        "channels", F.col("channels").cast("int")
    )
    return decoded.withColumn(
        "features_csv",
        F.array_join(
            F.transform(
                "features",
                lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("bigint"),
            ),
            ",",
        ),
    ).drop("features")


@query(
    "multimodal_audio",
    """
    WITH s AS (
      SELECT doc_id,
             list_transform(generate_series(0, 255), i ->
               CAST(((i * (doc_id % 8 + 1)) % 64) * 200 - 6400 AS DOUBLE)) AS pcm
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, 8000 AS sample_rate, 256 AS n_samples,
           0.032 AS duration,
           sqrt(list_aggregate(list_transform(pcm, v -> v * v), 'avg')) / 32768.0 AS rms,
           list_aggregate(list_transform(pcm, v -> abs(v)), 'avg') / 32768.0 AS mean_abs,
           list_aggregate(list_transform(generate_series(1, 255), i ->
             CASE WHEN sign(pcm[i + 1]) * sign(pcm[i]) < 0 THEN 1 ELSE 0 END),
             'sum') / 255.0 AS zero_cross_rate
    FROM s
    """,
)
def multimodal_audio(spark, sf_dir):
    """REAL audio decode: RIFF/PCM WAV blobs read by the stdlib wave
    module; features are actual PCM statistics (integer sawtooth synth, so
    the oracle reproduces them bit-exactly)."""
    docs = table(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 100)
    with_blob = multimodal.attach_audio_blobs(docs.select("doc_id"))
    return multimodal.decode_audio(with_blob).select(
        "doc_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_samples").cast("int").alias("n_samples"),
        "duration", "rms", "mean_abs", "zero_cross_rate",
    )


@query(
    "multimodal_frames",
    """
    WITH f AS (
      SELECT doc_id, unnest([0, 5, 10]) AS frame_idx
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           floor(list_aggregate(flatten(
             list_transform(generate_series(0, 7), y ->
               list_transform(generate_series(0, 7), x ->
                 CAST(((x + y + doc_id + frame_idx) % 256
                       + (x + y + doc_id + frame_idx + 1) % 256
                       + (x + y + doc_id + frame_idx + 2) % 256) AS DOUBLE) / 3.0))),
             'avg') / 255.0 * 1000000 + 0.5)::BIGINT AS mean_px_scaled
    FROM f
    """,
)
def multimodal_frames(spark, sf_dir):
    """REAL video-frame sampling: a concatenated-PPM container walked
    frame by frame (every 5th of 12), each frame's pixels actually decoded;
    the per-frame mean is verified against the closed-form gradient."""
    docs = table(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 50)
    with_blob = multimodal.attach_video_blobs(docs.select("doc_id"), n_frames=12)
    out = multimodal.sample_frames(with_blob, every=5)
    return out.select(
        "doc_id", "frame_idx",
        F.floor(F.col("mean_px") * 1000000.0 + F.lit(0.5)).alias("mean_px_scaled"),
    )


# --- IVF ANN + embedding near-dup -------------------------------------------


def _cos_frag(a: str, b: str) -> str:
    """Cosine between two double-list columns (SQL fragment)."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
        f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x * x))))"
    )


_IVF_K, _NPROBE = 16, 2


@query(
    "similarity_ivf",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c AS (SELECT vec_id AS cent_id, v AS cv FROM e
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
          LIMIT {_IVF_K}),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    a AS (SELECT e.vec_id, arg_max(cent_id, {_cos_frag("e.v", "cv")}) AS cell
          FROM e, c GROUP BY e.vec_id),
    probe AS (SELECT cent_id FROM c, q
              ORDER BY {_cos_frag("cv", "qv")} DESC, cent_id LIMIT {_NPROBE})
    SELECT e.vec_id, floor({_cos_frag("e.v", "qv")} * 1000000 + 0.5) / 1000000 AS cosine
    FROM e JOIN a USING (vec_id), q
    WHERE a.cell IN (SELECT cent_id FROM probe)
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def similarity_ivf(spark, sf_dir):
    """Fixed-k hash-sampled centroids (scale-safe: the centroid broadcast
    and the n x k assignment stay bounded as the corpus grows; a stride
    sample would produce O(n) centroids)."""
    emb = table(spark, sf_dir, "embeddings").df
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.ivf_topk(
        emb, qvec, k=50, num_centroids=_IVF_K, nprobe=_NPROBE
    )
    return (
        out.withColumn("cosine", fround(F.col("cosine"), 6))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


_PLANES = 4
_plane_lits = [
    "[" + ", ".join(f"{w:.3f}" for w in similarity._hyperplane(p, 64)) + "]"
    for p in range(_PLANES)
]
_bucket_frag = " + ".join(
    f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
    f"i -> v[i] * ({_plane_lits[p]})[i])) >= 0 THEN {1 << p} ELSE 0 END)"
    for p in range(_PLANES)
)


@query(
    "dedup_embedding_cosine",
    f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(generate_series(1, len(embedding)),
                            i -> CAST(embedding[i] AS DOUBLE) + 0.02 * (((i - 1) % 5) - 2))
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    b AS (SELECT vec_id, v, {_bucket_frag} AS bucket FROM corpus)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           floor({_cos_frag("a.v", "c.v")} * 1000000 + 0.5) / 1000000 AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {_cos_frag("a.v", "c.v")} >= 0.9
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucket-blocked; the corpus
    plants perturbed copies (cosine ~0.99) of every 10th vector."""
    emb = table(spark, sf_dir, "embeddings").df
    # one scan emits each vector + its (conditional) perturbed twin — the
    # union of two projections of the same table read and cast it twice
    corpus = emb.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.col("vec_id"),
                        F.transform(
                            "embedding", lambda x: x.cast("double")
                        ).alias("embedding"),
                    ),
                    F.when(
                        F.col("vec_id") % 10 == 0,
                        F.struct(
                            (F.col("vec_id") + 100000).alias("vec_id"),
                            F.transform(
                                "embedding",
                                lambda x, i: x.cast("double") + 0.02 * ((i % 5) - 2),
                            ).alias("embedding"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__r")
    ).select("__r.*")
    out = similarity.embedding_near_dups(corpus, threshold=0.9, num_planes=_PLANES)
    return out.withColumn("cosine", fround(F.col("cosine"), 6))


@query(
    "similarity_ann_lsh",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    b AS (SELECT vec_id, v, {_bucket_frag} AS bucket FROM e),
    q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT vec_id, floor({_cos_frag("v", "qv")} * 1000000 + 0.5) / 1000000 AS cosine
    FROM b, q
    WHERE bit_count(xor(bucket, qb)) <= 1
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def similarity_ann_lsh(spark, sf_dir):
    """Sign-projection LSH ANN with multi-probe (hamming<=1 buckets);
    deterministic hyperplanes make even the probe set oracle-checkable."""
    emb = table(spark, sf_dir, "embeddings").df
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = similarity.lsh_ann_topk(emb, qvec, k=50, num_planes=_PLANES, probe_radius=1)
    return (
        out.withColumn("cosine", fround(F.col("cosine"), 6))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "knn_join",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {_cos_frag("e.v", "q.qv")} AS raw_cos
      FROM e, q
    ),
    ranked AS (
      SELECT query_id, vec_id, raw_cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY raw_cos DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, vec_id, floor(raw_cos * 1000000 + 0.5) / 1000000 AS cosine
    FROM ranked WHERE rn <= 5
    """,
)
def knn_join(spark, sf_dir):
    """Batch k-NN: exact top-5 neighbours for each of 10 query vectors via
    broadcast cross-score + per-query window."""
    emb = table(spark, sf_dir, "embeddings").df
    out = similarity.knn_join(emb, emb.filter(F.col("vec_id") < 10), k=5)
    return out.withColumn("cosine", fround(F.col("cosine"), 6))


@query(
    "text_bpe_tokens",
    """
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]{1,6}|[0-9]|[^\\sA-Za-z0-9]')) AS bpe_tokens
    FROM documents WHERE doc_id < 300
    """,
)
def text_bpe_tokens(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").filter(doc_id={"lt": 300})
    return (
        docs.project(
            {
                "ws_tokens": text.token_count(F.col("text")),
                "bpe_tokens": text.bpe_ish_token_count(F.col("text")),
            }
        )
        .select("doc_id", "ws_tokens", "bpe_tokens")
        .df
    )


@query(
    "sample_hash",
    """
    SELECT count(*) AS n,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10
    """,
)
def sample_hash(spark, sf_dir):
    """Deterministic ~10% sample by id hash — reproducible across engines,
    runs, and cluster sizes (unlike seed-based sampling), which is what a
    100 TB training pipeline needs for resumable subset selection."""
    docs = table(spark, sf_dir, "documents").df
    sampled = docs.filter(
        dedup.hash60(F.col("doc_id").cast("string")) % 100 < 10
    )
    return sampled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("chars"),
    )


@query(
    "chunk_documents",
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
    ),
    c AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, greatest(CAST(ceil((len(words) - 16) / 48.0) AS INT), 1) - 1),
               i -> array_to_string(list_slice(words, i * 48 + 1, i * 48 + 64), ' ')
             )) AS chunk
      FROM w
    )
    SELECT count(*) AS n_chunks,
           CAST(sum(len(string_split_regex(chunk, '\\s+'))) AS BIGINT) AS total_tokens,
           max(length(chunk)) AS longest
    FROM c
    """,
)
def chunk_documents(spark, sf_dir):
    """64-token chunks with 16-token overlap, exploded to one row per
    chunk; aggregate shape check over the whole corpus."""
    docs = table(spark, sf_dir, "documents").df
    chunks = docs.select(
        "doc_id", F.explode(text.chunk_text(F.col("text"), size=64, overlap=16)).alias("chunk")
    )
    return chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.size(F.split("chunk", r"\s+"))).cast("bigint").alias("total_tokens"),
        F.max(F.length("chunk")).alias("longest"),
    )


@query(
    "tfidf_top_terms",
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df_t.df,
             tf.tf * ln((n.n_docs + 1.0) / (df_t.df + 1)) AS tfidf
      FROM tf, df_t, n WHERE tf.term = df_t.term
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, df,
           floor(tfidf * 1000000 + 0.5) / 1000000 AS tfidf
    FROM ranked WHERE rn = 1 AND doc_id < 200
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Most characteristic term per document (tf-idf, broadcast df join)."""
    docs = table(spark, sf_dir, "documents").df
    out = text.tf_idf_top_terms(docs, k=1).filter(F.col("doc_id") < 200)
    return out.withColumn("tfidf", fround(F.col("tfidf"), 6))


@query(
    "sample_stratified",
    f"""
    WITH tagged AS (
      SELECT doc_id, {_langid_case()} AS lang FROM documents
    )
    SELECT lang,
           count(*) AS total,
           CAST(sum(CASE WHEN
             CAST(('0x' || substr(md5(lang || '|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 20
           THEN 1 ELSE 0 END) AS BIGINT) AS sampled
    FROM tagged GROUP BY lang
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic per-stratum ~20% sample: hash over (language, id) so
    every stratum is sampled reproducibly regardless of partitioning."""
    docs = _spread(table(spark, sf_dir, "documents")).df
    tagged = docs.select("doc_id", text.language_id(F.col("text")).alias("lang"))
    in_sample = (
        dedup.hash60(F.concat_ws("|", F.col("lang"), F.col("doc_id").cast("string"))) % 100 < 20
    )
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("bigint").alias("sampled"),
    )


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.7
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs WHERE jaccard >= 0.7
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    ),
    comp AS (SELECT v, min(label) AS component FROM reach GROUP BY v)
    SELECT component, count(*) AS n_members
    FROM comp GROUP BY component
    """,
)
def dedup_components(spark, sf_dir):
    """Near-dup *groups*: MinHash candidate pairs at J >= 0.7 resolved to
    connected components (iterative min-label propagation); one row per
    component with its size — component id = the canonical survivor
    (min doc id). The oracle replays the pair graph through a recursive
    CTE reachability closure."""
    docs = table(spark, sf_dir, "documents").df
    pairs = dedup.minhash_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.7
    )
    comps = dedup.connected_components(pairs)
    return comps.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))


@query(
    "dedup_canonical",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.7
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs WHERE jaccard >= 0.7
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    ),
    comp AS (SELECT v, min(label) AS component FROM reach GROUP BY v),
    att AS (SELECT c.v, c.component, d.n_chars
            FROM comp c JOIN documents d ON c.v = d.doc_id),
    k AS (
      SELECT component, v AS keep_id FROM (
        SELECT *, row_number() OVER (PARTITION BY component
                                     ORDER BY n_chars DESC, v) AS rn
        FROM att) WHERE rn = 1
    )
    SELECT a.v AS doc_id, a.component, k.keep_id,
           a.v <> k.keep_id AS is_duplicate
    FROM att a JOIN k USING (component)
    """,
)
def dedup_canonical(spark, sf_dir):
    """The end of the dedup pipeline: candidates -> components -> a
    deterministic keep/drop decision per member (longest text wins, ties
    to smallest id). is_duplicate=true rows are the delete list a curation
    job actually applies."""
    docs = table(spark, sf_dir, "documents").df
    pairs = dedup.minhash_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.7
    )
    comps = dedup.connected_components(pairs)
    return dedup.canonical_pick(comps, docs.select("doc_id", "n_chars"))


@query(
    "pii_redact",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1 555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' from 10.0.' || (doc_id % 256) || '.7' AS t
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\+?\\d{1,2}[- ]\\d{3}[- ]\\d{4}', '[PHONE]', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IPV4]', 'g')
             AS redacted,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(t, '\\+?\\d{1,2}[- ]\\d{3}[- ]\\d{4}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4
    FROM aug
    """,
)
def pii_redact(spark, sf_dir):
    """PII scrubbing (emails/phones/IPv4 -> tags) — chained JVM-side
    regexp_replace, map-only; counts via regexp_count. The corpus has no
    real PII, so deterministic PII is synthesized from doc_id and the
    oracle applies the same RE2-compatible patterns."""
    docs = table(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 200)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256), F.lit(".7"),
        ).alias("t"),
    )
    counts = text.pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        text.redact_pii(F.col("t")).alias("redacted"),
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ipv4"].alias("n_ipv4"),
    )


@query(
    "dedup_segments",
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    ex AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(0, CAST(ceil(len(words) / 10.0) AS INT) - 1),
        i -> array_to_string(words[i * 10 + 1 : i * 10 + 10], ' '))) AS seg
      FROM w
    ),
    freq AS (SELECT seg, count(*) AS n FROM ex GROUP BY seg)
    SELECT doc_id,
           count(*) AS n_segments,
           CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
           floor(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
                 * 1000000 + 0.5)::BIGINT AS dup_fraction_scaled
    FROM ex JOIN freq USING (seg)
    GROUP BY doc_id
    """,
)
def dedup_segments(spark, sf_dir):
    """C4-style segment-duplication profile: consecutive 10-word segments,
    corpus-wide frequency join, per-doc boilerplate fraction."""
    docs = table(spark, sf_dir, "documents").df
    out = dedup.duplicate_segments(docs, seg_words=10)
    return out.select(
        "doc_id", "n_segments", "n_dup_segments",
        F.floor(F.col("dup_fraction") * 1000000.0 + F.lit(0.5)).alias(
            "dup_fraction_scaled"
        ),
    )


@query(
    "sketch_distinct",
    """
    WITH g AS (
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'ALL', count(DISTINCT l_partkey) FROM lineitem
    )
    SELECT l_returnflag, CAST(exact_distinct AS BIGINT) AS exact_distinct,
           TRUE AS estimate_ok
    FROM g
    """,
)
def sketch_distinct(spark, sf_dir):
    """Mergeable HLL distinct-count sketches: per-group sketch + estimate,
    then a grand-total estimate from merging the per-group sketches alone
    (no data rescan) — the 100 TB incremental-distinct pattern.

    Oracle contract: the HLL estimate itself is Spark-side state DuckDB
    cannot reproduce, so the query emits the EXACT per-group distinct count
    (oracle-checked) plus ``estimate_ok`` = |estimate − exact| ≤ 5%·exact.
    The oracle asserts TRUE — if the sketch ever drifts past tolerance the
    flag flips and the driver hash mismatches, so the sketch path is gated,
    not just row-counted."""
    from graphique_spark.operators import sketch

    lineitem = table(spark, sf_dir, "lineitem").df
    per_group = sketch.hll_sketches(lineitem, "l_partkey", by=["l_returnflag"])
    total = sketch.hll_merge(per_group).select(
        F.lit("ALL").alias("l_returnflag"), "estimate"
    )
    est = per_group.select("l_returnflag", "estimate").union(total)
    exact = (
        lineitem.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact_distinct"))
        .union(
            lineitem.agg(F.countDistinct("l_partkey").alias("exact_distinct"))
            .select(F.lit("ALL").alias("l_returnflag"), "exact_distinct")
        )
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            <= F.lit(0.05) * F.col("exact_distinct")
        ).alias("estimate_ok"),
    )


@query(
    "text_entropy",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    wc AS (SELECT doc_id, word, count(*) AS c FROM w
           WHERE word <> '' GROUP BY doc_id, word),
    t AS (SELECT doc_id, sum(c) AS total FROM wc GROUP BY doc_id)
    SELECT doc_id,
           CAST(max(total) AS BIGINT) AS n_words,
           count(*) AS n_unique_words,
           floor(-sum((c::DOUBLE / total) * ln(c::DOUBLE / total)) * 10000 + 0.5)
             ::BIGINT AS entropy_scaled
    FROM wc JOIN t USING (doc_id) GROUP BY doc_id
    """,
)
def text_entropy(spark, sf_dir):
    """Vocabulary-entropy quality signal; 1e4 floor-scaling absorbs
    engine-order float summation noise."""
    docs = table(spark, sf_dir, "documents").df
    out = text.word_entropy(docs)
    return out.select(
        "doc_id", "n_words", "n_unique_words",
        F.floor(F.col("entropy") * 10000.0 + F.lit(0.5)).alias("entropy_scaled"),
    )


@query(
    "sample_weighted",
    """
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars,
             pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                 / 1152921504606846976.0,
                 1.0 / n_chars) AS key
      FROM documents
    ) ORDER BY key DESC, doc_id LIMIT 50
    """,
)
def sample_weighted(spark, sf_dir):
    """Weight-proportional deterministic sample (A-Res as a top-k): longer
    docs are proportionally likelier; selection reproducible across
    engines/cluster sizes. The 50th/51st key gap is orders of magnitude
    above any libm pow ulp difference, so the selected set is engine-
    stable."""
    docs = table(spark, sf_dir, "documents").df.select("doc_id", "n_chars")
    return text.weighted_sample(docs, 50, F.col("n_chars"))


@query(
    "group_salted_skew",
    """
    SELECT event_type,
           count(*) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS total
    FROM events GROUP BY event_type
    """,
)
def group_salted_skew(spark, sf_dir):
    """Two-phase salted aggregation (operators.skew): the hot group key is
    spread over (key, salt) sub-keys in phase 1, then re-aggregated on the
    key — identical results to a plain group-by (the oracle), skew-immune
    reducers at scale."""
    from graphique_spark.operators.skew import two_phase_agg

    events = table(spark, sf_dir, "events").df.select("event_type", "value")
    out = two_phase_agg(events, by=["event_type"], sums=["value"], counts="n")
    return out.select(
        "event_type", "n",
        (F.floor(F.col("value") * 100 + F.lit(0.5)) / 100).alias("total"),
    )


@query(
    "outlier_robust_zscore",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY e.event_type
    """,
)
def outlier_robust_zscore(spark, sf_dir):
    """Robust per-group outlier flags: |x - median| > 3 * MAD. Median and
    MAD are two grouped exact percentiles (map-side partial aggregation);
    the flags are a broadcast join of the tiny per-group stats back onto
    the stream — no window over the full table."""
    from pyspark.sql import functions as F

    events = table(spark, sf_dir, "events").df.select("event_type", "value")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = events.join(F.broadcast(med), on="event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), on="event_type")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > 3.0 * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    )


@query(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', f.first_day, CAST(e.ts AS DATE)) // 7 AS week_offset,
             strftime(date_trunc('week', f.first_day), '%Y-%m-%d') AS cohort
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort, CAST(week_offset AS BIGINT) AS week_offset,
           count(*) AS active_users
    FROM activity
    GROUP BY cohort, week_offset
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week, counted
    as active per week offset since their first event. First-seen is an
    unordered window min over one user partitioning of a SINGLE scan —
    the grouped-min + join-back shape read the events table twice; the
    per-user distinct reuses the window's partitioning shuffle-free."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = table(spark, sf_dir, "events").df.select("user_id", "ts")
    first_day = F.min(F.to_date("ts")).over(Window.partitionBy("user_id"))
    activity = (
        events.withColumn("first_day", first_day)
        .select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("first_day")) / 7
            ).alias("week_offset"),
            F.date_format(F.date_trunc("week", F.col("first_day")), "yyyy-MM-dd").alias("cohort"),
        )
        .distinct()
    )
    return activity.groupBy("cohort", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


@query(
    "funnel_stages",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 'view' AS stage, count(*) AS users FROM v
      UNION ALL SELECT 'view>click', count(*) FROM c
      UNION ALL SELECT 'view>click>purchase', count(*) FROM p
    )
    """,
)
def funnel_stages(spark, sf_dir):
    """Ordered-funnel analysis: users who viewed, then clicked after the
    first view, then purchased after that click. ONE scan (pre-filtered
    to the three funnel event types) and ONE exchange by user: the three
    stage timestamps are chained unordered-window mins over the same
    user partitioning (no per-stage re-scan — the previous shape's
    per-stage frontier joins re-read the events table six times), the
    per-user dedup reuses that partitioning shuffle-free, and the three
    stage-count rows are exploded from a single global aggregate row
    instead of three unioned single-row aggregates (a union of N
    projections of the same subplan executes it N times)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = (
        table(spark, sf_dir, "events")
        .df.select("user_id", "event_type", "ts")
        .where(F.col("event_type").isin("view", "click", "purchase"))
    )
    w = Window.partitionBy("user_id")
    typ = F.col("event_type")
    # strict > chains: a null previous-stage timestamp nulls the
    # comparison, so the when() never fires — exactly the inner-join
    # semantics of the per-stage frontier formulation
    staged = (
        events.withColumn(
            "t_view", F.min(F.when(typ == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t_click",
            F.min(
                F.when((typ == "click") & (F.col("ts") > F.col("t_view")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (typ == "purchase") & (F.col("ts") > F.col("t_click")), F.col("ts")
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.min("t_view").alias("tv"),
        F.min("t_click").alias("tc"),
        F.min("t_purchase").alias("tp"),
    )
    totals = per_user.agg(
        F.count("tv").alias("n_v"), F.count("tc").alias("n_c"), F.count("tp").alias("n_p")
    )
    return totals.select(
        F.explode(
            F.array(
                F.struct(F.lit("view").alias("stage"), F.col("n_v").alias("users")),
                F.struct(F.lit("view>click").alias("stage"), F.col("n_c").alias("users")),
                F.struct(
                    F.lit("view>click>purchase").alias("stage"), F.col("n_p").alias("users")
                ),
            )
        ).alias("__s")
    ).select("__s.*")


@query(
    "pack_sequences",
    """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(e - n_tokens AS BIGINT) AS token_offset,
           floor((e - n_tokens) / 512)::BIGINT AS bin_first,
           CASE WHEN n_tokens > 0 THEN floor((e - 1) / 512)
                ELSE floor((e - n_tokens) / 512) END::BIGINT AS bin_last
    FROM c
    """,
)
def pack_sequences(spark, sf_dir):
    """GPT-style pack-then-chunk: concatenate docs in id order, cut every
    512 tokens, report each doc's global offset and the bins it spans. The
    global running offset is the two-phase partitioned_cumsum — no
    single-task global window (oracle uses the plain SQL window, which IS
    that bottleneck — fine at oracle scale)."""
    docs = table(spark, sf_dir, "documents").df
    return text.pack_sequences(docs, capacity=512)


@query(
    "clean_boilerplate",
    """
    WITH l AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                         x -> x <> '') AS lines
      FROM documents
    ),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines, x ->
               len(string_split_regex(x, '\\s+')) >= 3
               AND substr(x, -1, 1) IN ('.', '!', '?', '"')) AS kept
      FROM l
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(lines) - len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_hash
    FROM k
    """,
)
def clean_boilerplate(spark, sf_dir):
    """C4 line rules: drop lines under 3 words or without terminal
    punctuation; emit per-doc removal stats + an md5 of the cleaned text
    (value-checking the actual surviving content, not just counts).
    Map-only in-row HOFs."""
    docs = table(spark, sf_dir, "documents").df
    all_lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), F.trim), lambda x: F.length(x) > 0
    )
    kept = text.kept_lines(F.col("text"), min_words=3)
    return docs.select(
        "doc_id",
        F.size(all_lines).cast("long").alias("n_lines"),
        (F.size(all_lines) - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, "\n")).alias("clean_hash"),
    )


@query(
    "quality_logistic",
    f"""
    WITH w AS ({_QUALITY_CTE}),
    f AS (
      SELECT doc_id,
             ln(CAST(length(text) AS DOUBLE) + 1.0) AS log_len,
             CASE WHEN tokens = 0 THEN 0.0
                  ELSE CAST(stop_hits AS DOUBLE) / tokens END AS stop,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
                       / len(words) END AS wlen
      FROM w
    )
    SELECT doc_id,
           floor(1.0 / (1.0 + exp(-((-3.0) + 0.5 * log_len + 6.0 * stop
                                    - 8.0 * punct - 0.3 * abs(wlen - 5.0))))
                 * 10000 + 0.5)::BIGINT AS q_scaled
    FROM f
    """,
)
def quality_logistic(spark, sf_dir):
    """fastText-shaped linear quality classifier (fixed literal weights +
    sigmoid) — pure map-side codegen; 1e4 floor-scaling absorbs libm exp/ln
    noise across engines."""
    docs = table(spark, sf_dir, "documents").df
    return docs.select(
        "doc_id",
        F.floor(text.logistic_quality(F.col("text")) * 10000.0 + F.lit(0.5)).alias(
            "q_scaled"
        ),
    )


@query(
    "mixture_sample",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    s AS (SELECT lang, n,
                 CASE lang WHEN 'en' THEN 8.0 / 20.0 ELSE 3.0 / 20.0 END AS share
          FROM c),
    t AS (SELECT lang, n,
                 CAST(floor(least(1.0, share * (SELECT min(n / share) FROM s) / n)
                            * 1000000 + 0.5) AS BIGINT) AS threshold
          FROM s),
    k AS (
      SELECT d.lang, count(*) AS n_kept
      FROM documents d JOIN t ON d.lang = t.lang
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 1000000 < t.threshold
      GROUP BY d.lang
    )
    SELECT t.lang, CAST(t.n AS BIGINT) AS n_total, t.threshold,
           CAST(k.n_kept AS BIGINT) AS n_kept
    FROM t JOIN k USING (lang)
    """,
)
def mixture_sample(spark, sf_dir):
    """Deterministic language-mixture resampling (en:8 others:3 of 20):
    the binding language keeps 100%, the rest downsample by hashed-id
    threshold — replay-safe, two bounded passes (per-lang counts collected,
    then a map-side filter). Emits the per-lang audit summary."""
    docs = table(spark, sf_dir, "documents").df
    weights = {"en": 8.0, "de": 3.0, "fr": 3.0, "es": 3.0, "zh": 3.0}
    kept = text.mixture_sample(docs, weights, by="lang")
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    summary = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.first("__threshold").cast("long").alias("threshold"),
    )
    return totals.join(summary, "lang").select(
        "lang", "n_total", "threshold", "n_kept"
    )


_PROFILE_NUM = """
    SELECT '{c}' AS "column", '{t}' AS dtype,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(floor(CAST(min({c}) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS min_num_scaled,
           CAST(floor(CAST(max({c}) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS max_num_scaled,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem"""
_PROFILE_STR = """
    SELECT '{c}' AS "column", '{t}' AS dtype,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(NULL AS BIGINT) AS min_num_scaled, CAST(NULL AS BIGINT) AS max_num_scaled,
           CAST(min({c}) AS VARCHAR) AS min_str, CAST(max({c}) AS VARCHAR) AS max_str
    FROM lineitem"""


@query(
    "profile_table",
    " UNION ALL ".join(
        [
            _PROFILE_NUM.format(c="l_orderkey", t="bigint"),
            _PROFILE_NUM.format(c="l_quantity", t="double"),
            _PROFILE_STR.format(c="l_returnflag", t="string"),
            _PROFILE_STR.format(c="l_shipdate", t="timestamp_ntz"),
        ]
    ),
)
def profile_table(spark, sf_dir):
    """Single-pass per-column profile (nulls, exact distincts, extrema) —
    every metric is an aggregate expression in ONE distributed agg; the
    lone result row reshapes driver-side (bounded by #columns)."""
    from graphique_spark.operators.profile import profile

    lineitem = table(spark, sf_dir, "lineitem").df
    return profile(
        lineitem, ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    )


@query(
    "embedding_clusters",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM e
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
          LIMIT 8),
    a AS (SELECT e.vec_id, arg_max(cid, {_cos_frag("e.v", "cv")}) AS cluster,
                 max({_cos_frag("e.v", "cv")}) AS cos
          FROM e, c GROUP BY e.vec_id)
    SELECT cluster, count(*) AS n,
           floor(avg(cos) * 1000000 + 0.5)::BIGINT AS mean_cos_scaled
    FROM a GROUP BY cluster
    """,
)
def embedding_clusters(spark, sf_dir):
    """Embedding-space clustering (fixed-k hash-sampled centroids, map-side
    assignment over centroid literals — the curation diversity-control
    primitive): per-cluster sizes and mean centroid affinity."""
    emb = table(spark, sf_dir, "embeddings").df
    assigned = similarity.assign_clusters(emb, num_clusters=8)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.avg("cos_to_centroid") * 1000000.0 + F.lit(0.5)).alias(
            "mean_cos_scaled"
        ),
    )


@query(
    "dedup_substring",
    """
    WITH ex AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(list_transform(
          generate_series(1, greatest(length(text) - 59, 1), 20),
          p -> substr(text, p, 60))) AS gram
        FROM documents)
    ),
    freq AS (SELECT gram, count(*) AS n_docs FROM ex GROUP BY gram)
    SELECT * FROM (
      SELECT doc_id,
             count(*) AS n_windows,
             CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
             floor(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                   / count(*) * 1000000 + 0.5)::BIGINT AS dup_frac_scaled
      FROM ex JOIN freq USING (gram)
      GROUP BY doc_id
    ) WHERE n_dup_windows > 0
    """,
)
def dedup_substring(spark, sf_dir):
    """Partial-overlap dedup (strided 60-char windows, the practical form
    of Lee et al. 2022 suffix-array dedup): docs sharing any verbatim
    window with another doc, with how much of each doc is shared."""
    docs = table(spark, sf_dir, "documents").df
    out = dedup.substring_duplicates(docs, window=60, stride=20)
    return out.select(
        "doc_id", "n_windows", "n_dup_windows",
        F.floor(F.col("dup_fraction") * 1000000.0 + F.lit(0.5)).alias(
            "dup_frac_scaled"
        ),
    )


@query(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, text, lang, source, n_chars FROM documents
      WHERE doc_id % 7 <> 0
    ),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS text,
             lang, source, n_chars
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT doc_id, change FROM (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.text IS DISTINCT FROM n.text
                    OR o.lang IS DISTINCT FROM n.lang
                    OR o.source IS DISTINCT FROM n.source
                    OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL JOIN new n ON o.doc_id = n.doc_id
    ) WHERE change <> 'unchanged'
    """,
)
def snapshot_diff(spark, sf_dir):
    """Snapshot change audit: two corpus versions (simulated re-crawl —
    some docs dropped, some added back, every third re-normalized), diffed
    to (key, added|removed|changed) via slim fingerprint join."""
    from graphique_spark.operators.diff import snapshot_diff as diff_op

    docs = table(spark, sf_dir, "documents").df
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return diff_op(old, new, keys=["doc_id"])


@query(
    "sample_per_group",
    """
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def sample_per_group(spark, sf_dir):
    """Deterministic 5-per-language sample (md5-rank): reproducible across
    engines and cluster sizes, no RNG state — the fixed-quota counterpart
    of fraction-based stratified sampling."""
    docs = table(spark, sf_dir, "documents").df
    return text.group_sample_k(docs, by="lang", k=5).select("lang", "doc_id")


@query(
    "retrieval_bm25",
    """
    WITH terms AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
      FROM documents
    ),
    doclen AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doclen),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms
      WHERE term IN ('spark', 'hash', 'window', 'batch')
      GROUP BY doc_id, term
    ),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1.0 + (stats.n - docfreq.df + 0.5) / (docfreq.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * doclen.dl / stats.avgdl)))
               AS score
      FROM tf JOIN docfreq USING (term) JOIN doclen USING (doc_id), stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, floor(score * 1000000 + 0.5) / 1000000 AS score
    FROM scored ORDER BY 2 DESC, doc_id LIMIT 15
    """,
)
def retrieval_bm25(spark, sf_dir):
    """Okapi BM25 retrieval over the corpus (k1=1.2, b=0.75): postings are
    filtered to the query terms BEFORE the tf shuffle, doc frequencies and
    corpus stats broadcast, top-k via per-partition heaps. Over-fetch +
    round + re-rank makes the cut deterministic across engines."""
    docs = table(spark, sf_dir, "documents").df
    out = text.bm25_topk(docs, ["spark", "hash", "window", "batch"], k=100)
    return (
        out.withColumn("score", fround(F.col("score"), 6))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(15)
    )


@query(
    "lm_perplexity",
    """
    WITH terms AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
      FROM documents
    ),
    vocab AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
    model AS (SELECT sum(c) AS total, count(*) AS v FROM vocab),
    nll AS (
      SELECT doc_id, count(*) AS n_tokens,
             -sum(ln((vocab.c + 1.0) / (model.total + model.v))) / count(*) AS nll
      FROM terms JOIN vocab USING (term), model
      GROUP BY doc_id
    )
    SELECT CAST(floor(nll * 10 + 0.5) / 10 AS DOUBLE) AS nll_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM nll GROUP BY nll_bucket
    """,
)
def lm_perplexity(spark, sf_dir):
    """Corpus-trained unigram LM perplexity (the CCNet head/middle/tail
    quality signal with the KenLM externalized): per-document mean token
    NLL, rolled up into 0.1-nat buckets. Two shuffles total (vocabulary,
    per-doc sum); the posting⋈vocab join stays unhinted because web-scale
    vocabularies can exceed executor memory."""
    docs = table(spark, sf_dir, "documents").df
    scores = text.unigram_lm_scores(docs)
    return (
        scores.withColumn("nll_bucket", fround(F.col("nll"), 1))
        .groupBy("nll_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


@query(
    "split_assign",
    """
    SELECT source, split, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT source,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) / 1152921504606846976.0 < 0.96 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) / 1152921504606846976.0 < 0.98 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) GROUP BY source, split
    """,
)
def split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment (96/2/2): the md5-derived
    uniform keeps a document's split stable under corpus growth — new docs
    never move old ones between splits, so eval sets stay uncontaminated
    across dataset versions. Pure map-side expression; the only shuffle is
    the audit count."""
    docs = table(spark, sf_dir, "documents").df
    return (
        docs.withColumn(
            "split", text.assign_split(F.col("doc_id"), (0.96, 0.02, 0.02))
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@query(
    "shard_manifest",
    """
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 16 AS INT) AS shard, doc_id, n_chars
      FROM documents
    ) GROUP BY shard
    """,
)
def shard_manifest(spark, sf_dir):
    """Training-shard manifest: deterministic hash-shard assignment (the
    pure-function half of `write_training_shards`) audited as per-shard
    doc/char counts and id ranges — the artifact two pipeline versions
    diff to prove shard stability. Map-side assignment, one count shuffle."""
    docs = table(spark, sf_dir, "documents").df
    sharded = text.shard_assignment(docs, 16)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


@query(
    "image_dhash_dedup",
    """
    WITH img AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
      FROM documents WHERE doc_id < 100
    ),
    dh AS (
      SELECT doc_id,
        list_sum(flatten(list_transform(generate_series(0, 7), y ->
          list_transform(generate_series(0, 6), x ->
            CASE WHEN
              ((x*w)//8 + (y*h)//8 + doc_id) % 256
              + ((x*w)//8 + (y*h)//8 + 1 + doc_id) % 256
              + ((x*w)//8 + (y*h)//8 + 2 + doc_id) % 256
              >
              (((x+1)*w)//8 + (y*h)//8 + doc_id) % 256
              + (((x+1)*w)//8 + (y*h)//8 + 1 + doc_id) % 256
              + (((x+1)*w)//8 + (y*h)//8 + 2 + doc_id) % 256
            THEN 1::BIGINT << (y*7 + x) ELSE 0::BIGINT END)))) AS dhash
      FROM img
    )
    SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(id_a) AS BIGINT) AS first_a
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.dhash, b.dhash)) AS hamming
      FROM dh a JOIN dh b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    GROUP BY hamming
    """,
)
def image_dhash_dedup(spark, sf_dir):
    """Perceptual image dedup: REAL dHash over really-decoded PPM pixels
    (8x8 nearest-neighbor grayscale, 56 bits), near-dup pairs by Hamming
    distance via pigeonhole-exact banding (max_hamming=3 < bands=4 means
    the band equi-join provably finds every qualifying pair — the oracle
    checks against brute-force all-pairs), rolled up per distance. Only
    8-byte hashes ever shuffle; images never do."""
    docs = table(spark, sf_dir, "documents").df.where(F.col("doc_id") < 100)
    blobs = multimodal.attach_image_blobs(docs.select("doc_id"))
    hashes = multimodal.dhash_images(blobs)
    pairs = multimodal.phash_near_dups(hashes, max_hamming=3, bands=4)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("id_a").cast("bigint").alias("first_a"),
    )


_PR_ITER = """
    d{i} AS (
      SELECT coalesce(sum(r.rank), 0) AS dm
      FROM r{i} r LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
    ),
    i{i} AS (
      SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
      FROM e JOIN outdeg o USING (src) JOIN r{i} r ON r.node = e.src
      GROUP BY e.dst
    ),
    r{j} AS (
      SELECT nodes.node,
             0.15 / n.n + 0.85 * (coalesce(i.inflow, 0) + d.dm / n.n) AS rank
      FROM nodes CROSS JOIN n CROSS JOIN d{i} d
      LEFT JOIN i{i} i ON nodes.node = i.node
    )"""


@query(
    "pagerank_suppliers",
    """
    WITH e AS (
      SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
    n AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
    """
    + ",".join(_PR_ITER.format(i=i, j=i + 1) for i in range(3))
    + """
    SELECT node, floor(rank * 1e12 + 0.5) / 1e12 AS rank
    FROM r3 ORDER BY 2 DESC, node LIMIT 25
    """,
)
def pagerank_suppliers(spark, sf_dir):
    """Link-authority ranking (the Common-Crawl host-PageRank shape used to
    weight crawl sources in curation): 3 damped power iterations over the
    customer->supplier purchase graph. Each iteration is one co-located
    edge⋈rank join + one groupBy(dst) sum; dangling mass redistributes via
    a scalar; lineage is cut per step. The oracle unrolls the identical
    recurrence in SQL."""
    from graphique_spark.operators.graph import pagerank

    orders = table(spark, sf_dir, "orders").df.select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").df.select("l_orderkey", "l_suppkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1000000) + F.col("l_suppkey")).alias("dst"),
        )
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return (
        ranks.withColumn("rank", fround(F.col("rank"), 12))
        .orderBy(F.col("rank").desc(), F.col("node"))
        .limit(25)
    )


@query(
    "gap_fill_locf",
    """
    SELECT event_id, user_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS backfilled
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 3 = 0 THEN value END AS v
      FROM events WHERE user_id < 50
    )
    """,
)
def gap_fill_locf(spark, sf_dir):
    """Time-series gap fill: last-observation-carried-forward and its
    backward twin per key (sensor/metric pipelines resampling sparse
    observations). One shuffle on the key; both fills share the same sort
    within it — Spark computes forward and backward frames off one
    partitioning. Sparsity is simulated by nulling two of three values."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").df.where(F.col("user_id") < 50)
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, F.col("value")).alias("v"),
    )
    order = [F.unix_micros(F.col("ts")), F.col("event_id")]
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return sparse.select(
        "event_id",
        "user_id",
        F.last("v", ignorenulls=True).over(fwd).alias("filled"),
        F.first("v", ignorenulls=True).over(bwd).alias("backfilled"),
    )


@query(
    "dedup_segments_apply",
    """
    WITH w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
      FROM documents
    ),
    ex AS (
      SELECT doc_id,
        unnest(generate_series(0, CAST(ceil(len(words) / 10.0) AS INT) - 1)) AS pos,
        unnest(list_transform(
          generate_series(0, CAST(ceil(len(words) / 10.0) AS INT) - 1),
          i -> array_to_string(words[i * 10 + 1 : i * 10 + 10], ' '))) AS seg
      FROM w
    ),
    freq AS (
      SELECT seg, count(*) AS n,
             min(doc_id) AS kd,
             min(pos) FILTER (doc_id = (SELECT min(e2.doc_id) FROM ex e2
                                        WHERE e2.seg = ex.seg)) AS kp
      FROM ex GROUP BY seg
    ),
    kept AS (
      SELECT ex.doc_id, ex.pos, ex.seg
      FROM ex JOIN freq USING (seg)
      WHERE freq.n = 1 OR (ex.doc_id = freq.kd AND ex.pos = freq.kp)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           array_to_string(list(seg ORDER BY pos), ' ') AS clean_text
    FROM kept GROUP BY doc_id
    """,
)
def dedup_segments_apply(spark, sf_dir):
    """C4 line-dedup APPLY: drop every repeated 10-word segment except its
    first corpus occurrence and rebuild the cleaned documents in order.
    One combined count+min(doc,pos) aggregate decides keeps; rebuild is a
    per-doc sorted collect."""
    docs = table(spark, sf_dir, "documents").df
    return dedup.remove_duplicate_segments(docs)


@query(
    "scd2_dimension_join",
    """
    WITH dims AS (
      SELECT s_suppkey, ver,
             CASE ver WHEN 0 THEN TIMESTAMP '1995-01-01'
                      WHEN 1 THEN TIMESTAMP '1997-01-01'
                      ELSE TIMESTAMP '1999-01-01' END AS valid_from,
             s_acctbal + 100 * ver AS bal_version
      FROM supplier, unnest([0, 1, 2]) AS t(ver)
    ),
    facts AS (SELECT *, row_number() OVER () AS rid FROM lineitem),
    picked AS (
      SELECT l.l_suppkey, l.l_extendedprice, d.ver, d.bal_version
      FROM facts l JOIN dims d
        ON l.l_suppkey = d.s_suppkey AND d.valid_from <= l.l_shipdate
      QUALIFY row_number() OVER (PARTITION BY l.rid
                                 ORDER BY d.valid_from DESC) = 1
    )
    SELECT ver, CAST(count(*) AS BIGINT) AS n,
           floor(sum(bal_version) * 100 + 0.5) / 100 AS bal_sum
    FROM picked GROUP BY ver
    """,
)
def scd2_dimension_join(spark, sf_dir):
    """SCD Type 2 point-in-time join: every lineitem picks the supplier
    version in effect at its ship date (three synthetic versions per
    supplier). Uses the as-of union+last-window strategy — facts and
    versions interleave in one per-key sort; never a per-key cross product
    over the version history. The oracle brute-forces the same pick with a
    QUALIFY window."""
    from graphique_spark.operators.asof import scd2_join

    supp = table(spark, sf_dir, "supplier").df.select("s_suppkey", "s_acctbal")
    versions = supp.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("ver"),
    ).select(
        F.col("s_suppkey").alias("l_suppkey"),
        "ver",
        F.when(F.col("ver") == 0, F.lit("1995-01-01"))
        .when(F.col("ver") == 1, F.lit("1997-01-01"))
        .otherwise(F.lit("1999-01-01"))
        .cast("timestamp")
        .alias("valid_from"),
        (F.col("s_acctbal") + 100 * F.col("ver")).alias("bal_version"),
    )
    facts = table(spark, sf_dir, "lineitem").df.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    joined = scd2_join(facts, versions, key="l_suppkey", fact_ts="l_shipdate")
    return joined.groupBy("ver").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fround(F.sum("bal_version"), 2).alias("bal_sum"),
    )


_CORPUS_MINS = ", ".join(
    f"min(({1_000_003 * i + 12_345} * (h % {_M}) + {999_983 * i + 7}) % {_M}) AS m{i}"
    for i in range(32)
)
_CORPUS_MATCHES = " + ".join(
    f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(32)
)


@query(
    "corpus_overlap_minhash",
    f"""
    WITH ex AS ({_EX_SQL}),
    a AS (SELECT {_CORPUS_MINS} FROM ex WHERE doc_id % 2 = 0),
    b AS (SELECT {_CORPUS_MINS} FROM ex WHERE doc_id % 2 = 1 OR doc_id % 3 = 0)
    SELECT CAST({_CORPUS_MATCHES} AS BIGINT) AS n_matches,
           CAST({_CORPUS_MATCHES} AS BIGINT) / 32.0 AS jaccard_est
    FROM a, b
    """,
)
def corpus_overlap_minhash(spark, sf_dir):
    """Corpus-vs-corpus overlap from two 32-long MinHash signatures (the
    registry sketch answering "how much does the new dump overlap the old
    one" without re-reading either): per permutation the corpus-wide min
    shingle hash; estimate = matching-min fraction. Deterministic md5
    permutations make the estimate bit-identical in any engine — the
    oracle recomputes both signatures from scratch."""
    docs = table(spark, sf_dir, "documents").df
    return dedup.corpus_overlap_single_pass(
        docs,
        F.col("doc_id") % 2 == 0,
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 3 == 0),
        num_hashes=32,
    )


@query(
    "skew_report_keys",
    """
    WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
    s AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
    SELECT event_type, n,
           floor(n / (SELECT total FROM s) * 1000000 + 0.5) / 1000000 AS share,
           floor(n / ((SELECT total FROM s) / (SELECT n_keys FROM s)) * 1000000 + 0.5)
             / 1000000 AS skew_ratio
    FROM c ORDER BY n DESC, event_type LIMIT 5
    """,
)
def skew_report_keys(spark, sf_dir):
    """Key-skew diagnostic (the 'do I need salting?' planning probe): the
    heaviest key values with row share and ratio to a uniform key. One
    map-side-combined count, scalar re-aggregate, heap top-k."""
    from graphique_spark.operators.skew import skew_report

    ev = table(spark, sf_dir, "events").df
    rep = skew_report(ev, ["event_type"], top=5)
    return rep.select(
        "event_type",
        "n",
        fround(F.col("share"), 6).alias("share"),
        fround(F.col("skew_ratio"), 6).alias("skew_ratio"),
    )


@query(
    "token_budget_mix",
    """
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
      GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           floor(least(1000000.0 * CASE source
                         WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
                         WHEN 'src2' THEN 0.2 ELSE 0.1 END / n_tokens, 4.0)
                 * 1000000 + 0.5) / 1000000 AS rate,
           1000000.0 * CASE source
             WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
             WHEN 'src2' THEN 0.2 ELSE 0.1 END / n_tokens > 4.0 AS capped,
           floor(least(1000000.0 * CASE source
                         WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
                         WHEN 'src2' THEN 0.2 ELSE 0.1 END / n_tokens, 4.0)
                 * n_tokens * 100 + 0.5) / 100 AS expected_tokens
    FROM per
    """,
)
def token_budget_mix(spark, sf_dir):
    """Data-mixing plan for a 1M-token budget over four sources with
    40/30/20/10 target weights, rates capped at 4 epochs. One token-count
    aggregate; the weight table is a literal CASE — no joins."""
    docs = table(spark, sf_dir, "documents").df.where(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    out = text.token_budget_rates(
        docs, 1_000_000, {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    )
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        fround(F.col("rate"), 6).alias("rate"),
        "capped",
        fround(F.col("expected_tokens"), 2).alias("expected_tokens"),
    )


_DHASH_CTE = """
    img AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
      FROM documents WHERE doc_id < 100
    ),
    dh AS (
      SELECT doc_id,
        list_sum(flatten(list_transform(generate_series(0, 7), y ->
          list_transform(generate_series(0, 6), x ->
            CASE WHEN
              ((x*w)//8 + (y*h)//8 + doc_id) % 256
              + ((x*w)//8 + (y*h)//8 + 1 + doc_id) % 256
              + ((x*w)//8 + (y*h)//8 + 2 + doc_id) % 256
              >
              (((x+1)*w)//8 + (y*h)//8 + doc_id) % 256
              + (((x+1)*w)//8 + (y*h)//8 + 1 + doc_id) % 256
              + (((x+1)*w)//8 + (y*h)//8 + 2 + doc_id) % 256
            THEN 1::BIGINT << (y*7 + x) ELSE 0::BIGINT END)))) AS dhash
      FROM img
    )"""


@query(
    "image_dup_clusters",
    f"""
    WITH RECURSIVE {_DHASH_CTE},
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM dh a JOIN dh b ON a.doc_id <> b.doc_id
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    )
    SELECT v AS doc_id, CAST(min(label) AS BIGINT) AS cluster,
           v <> min(label) AS is_duplicate
    FROM reach GROUP BY v
    """,
)
def image_dup_clusters(spark, sf_dir):
    """The full perceptual-dedup pipeline composed end-to-end: decode ->
    dHash -> Hamming banding -> connected components -> keep/drop flags
    (cluster = min image id, everything else marked duplicate). The same
    component machinery the text dedup path uses — pairs in, groups out —
    against a recursive-CTE oracle."""
    docs = table(spark, sf_dir, "documents").df.where(F.col("doc_id") < 100)
    hashes = multimodal.dhash_images(multimodal.attach_image_blobs(docs.select("doc_id")))
    pairs = multimodal.phash_near_dups(hashes, max_hamming=3, bands=4)
    comps = dedup.connected_components(pairs)
    return comps.select(
        F.col("v").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster"),
        (F.col("v") != F.col("component")).alias("is_duplicate"),
    )


@query(
    "quality_filter_sweep",
    f"""
    WITH w AS ({_QUALITY_CTE}),
    f AS (
      SELECT doc_id, tokens,
             ln(CAST(length(text) AS DOUBLE) + 1.0) AS log_len,
             CASE WHEN tokens = 0 THEN 0.0
                  ELSE CAST(stop_hits AS DOUBLE) / tokens END AS stop,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
                       / len(words) END AS wlen
      FROM w
    ),
    scored AS (
      SELECT doc_id, tokens,
             ntile(10) OVER (ORDER BY
               floor(1.0 / (1.0 + exp(-((-3.0) + 0.5 * log_len + 6.0 * stop
                                        - 8.0 * punct - 0.3 * abs(wlen - 5.0))))
                     * 10000 + 0.5) DESC, doc_id) AS decile
      FROM f
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tokens) AS BIGINT) AS n_tokens,
           CAST(sum(sum(tokens)) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens
    FROM scored GROUP BY decile ORDER BY decile
    """,
)
def quality_filter_sweep(spark, sf_dir):
    """Threshold-sweep report for a quality filter: docs ranked by the
    logistic quality score (1e4 floor-scaled, the proven cross-engine
    repr), cut into deciles, token retention cumulative from the best
    decile down — the table a curation run reads to pick its cutoff
    ('keep the top 60% = X tokens'). One global rank (a range partitioner
    at scale, like order-by), one aggregate, one 10-row window."""
    from pyspark.sql import Window

    docs = _spread(table(spark, sf_dir, "documents")).df
    scored = docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("toks"),
        F.floor(text.logistic_quality(F.col("text")) * 10000.0 + F.lit(0.5)).alias("q"),
    )
    w = Window.orderBy(F.col("q").desc(), F.col("doc_id"))
    deciled = scored.withColumn("decile", F.ntile(10).over(w))
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(cum).cast("bigint").alias("cum_tokens"),
    ).orderBy("decile")


@query(
    "ab_test_welch",
    """
    WITH g AS (
      SELECT user_id % 2 AS grp,
             CAST(count(*) AS BIGINT) AS n,
             avg(value) AS mean, var_samp(value) AS var
      FROM events WHERE event_type = 'purchase'
      GROUP BY grp
    ),
    w AS (
      SELECT a.n AS n_a, b.n AS n_b,
             a.mean AS mean_a, b.mean AS mean_b,
             (a.mean - b.mean)
               / sqrt(a.var / a.n + b.var / b.n) AS t
      FROM g a JOIN g b ON a.grp = 0 AND b.grp = 1
    )
    SELECT n_a, n_b,
           floor(mean_a * 10000 + 0.5) / 10000 AS mean_a,
           floor(mean_b * 10000 + 0.5) / 10000 AS mean_b,
           floor(t * 10000 + 0.5) / 10000 AS t_stat,
           abs(t) > 1.96 AS significant
    FROM w
    """,
)
def ab_test_welch(spark, sf_dir):
    """A/B comparison at warehouse scale: treatment/control purchase values
    (split by user hash) reduced to count/mean/variance partials — one
    map-side-combinable aggregate per arm — then the Welch t statistic is
    scalar arithmetic over the two rows. No row-level data ever leaves the
    aggregate."""
    ev = table(spark, sf_dir, "events").df.where(F.col("event_type") == "purchase")
    g = (
        ev.groupBy((F.col("user_id") % 2).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    a = g.where(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = g.where(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        fround(F.col("mean_a"), 4).alias("mean_a"),
        fround(F.col("mean_b"), 4).alias("mean_b"),
        fround(t, 4).alias("t_stat"),
        (F.abs(t) > 1.96).alias("significant"),
    )


@query(
    "data_quality_report",
    """
    SELECT rule, kind, violations, checked FROM (
      SELECT 'qty_not_null' AS rule, 'not_null' AS kind,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
             CAST(count(*) AS BIGINT) AS checked, 1 AS o
      FROM lineitem
      UNION ALL
      SELECT 'discount_range', 'in_range',
             CAST(sum(CASE WHEN l_discount IS NULL
                            OR l_discount < 0.0 OR l_discount > 0.08
                           THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT), 2
      FROM lineitem
      UNION ALL
      SELECT 'flag_domain', 'isin',
             CAST(sum(CASE WHEN l_returnflag IS NULL
                            OR l_returnflag NOT IN ('A', 'N', 'R')
                           THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT), 3
      FROM lineitem
      UNION ALL
      SELECT 'line_unique', 'unique',
             CAST(coalesce(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT),
             CAST(coalesce(sum(c), 0) AS BIGINT), 4
      FROM (SELECT count(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey)
      UNION ALL
      SELECT 'order_fk', 'foreign_key',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
             CAST((SELECT count(*) FROM lineitem) AS BIGINT), 5
    ) ORDER BY o
    """,
)
def data_quality_report(spark, sf_dir):
    """Deequ-style expectation suite over lineitem: three row-local rules
    share ONE conditional-count scan, uniqueness is one key-only groupBy,
    the foreign key is one anti-join (AQE broadcasts the order keys).
    Gate-the-pipeline output: a violations row per rule."""
    from graphique_spark.operators.quality import Rule, validate

    li = table(spark, sf_dir, "lineitem").df
    orders = table(spark, sf_dir, "orders").df
    report = validate(
        li,
        [
            Rule("qty_not_null", "not_null", column="l_quantity"),
            Rule("discount_range", "in_range", column="l_discount", lo=0.0, hi=0.08),
            Rule("flag_domain", "isin", column="l_returnflag", values=["A", "N", "R"]),
            Rule(
                "line_unique",
                "unique",
                columns=["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"],
            ),
            Rule(
                "order_fk",
                "foreign_key",
                column="l_orderkey",
                ref=orders,
                ref_column="o_orderkey",
            ),
        ],
    )
    return report.select("rule", "kind", "violations", "checked")


@query(
    "basket_cooccurrence",
    """
    WITH lines AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM lines),
    part_n AS (SELECT l_partkey, count(*) AS n FROM lines GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, count(*) AS n_ab
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p_a, p_b, CAST(n_ab AS BIGINT) AS n_ab,
           floor(n_ab * (SELECT n FROM n_orders)
                 / (CAST(na.n AS DOUBLE) * nb.n) * 10000 + 0.5) / 10000 AS lift
    FROM pairs JOIN part_n na ON p_a = na.l_partkey
               JOIN part_n nb ON p_b = nb.l_partkey
    ORDER BY n_ab DESC, p_a, p_b LIMIT 20
    """,
)
def basket_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence with lift (the co-purchase signal
    recommender pipelines mine): the self-join is WITHIN the order key, so
    pair volume is bounded by lines-per-order squared — never an all-pairs
    product over the catalog; per-part counts join back unhinted (AQE
    broadcasts a catalog that fits). Heap top-20 on the support count."""
    # materialized: the distinct line set feeds FOUR consumers (the order
    # count, both self-join sides and the per-part counts) — without the
    # cut each one re-runs the 600k-row distinct shuffle
    lines = materialize(
        table(spark, sf_dir, "lineitem").df.select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = lines.select("l_orderkey").distinct().count()
    a = lines.toDF("l_orderkey", "p_a")
    b = lines.toDF("l_orderkey", "p_b")
    pairs = (
        a.join(b, on="l_orderkey")
        .where(F.col("p_a") < F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    part_n = lines.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    na = part_n.toDF("p_a", "n_a")
    nb = part_n.toDF("p_b", "n_b")
    lift = F.col("n_ab") * F.lit(float(n_orders)) / (
        F.col("n_a").cast("double") * F.col("n_b")
    )
    return (
        pairs.join(na, on="p_a")
        .join(nb, on="p_b")
        .select(
            "p_a",
            "p_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            fround(lift, 4).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "p_a", "p_b")
        .limit(20)
    )


@query(
    "daily_latency_percentiles",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n,
           floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95,
           floor(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS p99
    FROM events WHERE event_type = 'error' GROUP BY day
    """,
)
def daily_latency_percentiles(spark, sf_dir):
    """The SLO dashboard rollup: exact daily p50/p95/p99 of a metric per
    day partition — one hash aggregate whose per-day state is bounded by
    that day's rows (for sketch-sized state at petabyte scale the same
    query swaps in `operators.sketch.kll_quantiles`, trading exactness
    for mergeability)."""
    ev = table(spark, sf_dir, "events").df.where(F.col("event_type") == "error")
    # one percentile buffer for all three points (array form), not three:
    # Spark's exact Percentile builds and merges its value-count map once
    # per aggregate expression — same sorted counts, same interpolation,
    # identical values
    out = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.percentile("value", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("__q"),
    )
    return out.select(
        "day",
        "n",
        fround(F.element_at("__q", 1), 4).alias("p50"),
        fround(F.element_at("__q", 2), 4).alias("p95"),
        fround(F.element_at("__q", 3), 4).alias("p99"),
    )


@query(
    "inverted_index_build",
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, doc_id) AS rn
      FROM tf
    )
    SELECT term, CAST((SELECT count(*) FROM tf t2 WHERE t2.term = ranked.term)
                      AS BIGINT) AS df,
           array_to_string(list(doc_id || ':' || tf ORDER BY rn), ' ') AS postings
    FROM ranked WHERE rn <= 20
    GROUP BY term
    HAVING (SELECT count(*) FROM tf t2 WHERE t2.term = ranked.term) >= 2
    """,
)
def inverted_index_build(spark, sf_dir):
    """Inverted-index export: per term, document frequency + the top-20
    posting list by tf (ties to lowest doc id). Postings rank-truncate
    BEFORE collecting, so no term ever materializes an unbounded list."""
    docs = _spread(table(spark, sf_dir, "documents")).df
    return text.inverted_index(docs, min_df=2, max_postings=20)


@query(
    "json_extract_stats",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_min,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_max,
           CAST(count(*) FILTER (json_extract_string(props, '$.k') IS NULL)
                AS BIGINT) AS n_missing
    FROM events GROUP BY event_type
    """,
)
def json_extract_stats(spark, sf_dir):
    """Semi-structured column handling: JSON property extraction
    (`get_json_object` — JVM-side, codegen) straight into a typed
    aggregate. At scale the same pattern upgrades to `from_json` with an
    explicit schema projected once, so the parse cost is paid one time per
    row, not per extracted path."""
    ev = table(spark, sf_dir, "events").df
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("k_sum"),
        F.min(k).cast("bigint").alias("k_min"),
        F.max(k).cast("bigint").alias("k_max"),
        F.sum(k.isNull().cast("long")).cast("bigint").alias("n_missing"),
    )


@query(
    "rolling_active_users",
    """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d1.day AS VARCHAR) AS day,
           CAST(count(DISTINCT d2.user_id) AS BIGINT) AS mau7
    FROM days d1 JOIN du d2 ON d2.day BETWEEN d1.day - 6 AND d1.day
    GROUP BY d1.day
    """,
)
def rolling_active_users(spark, sf_dir):
    """7-day rolling distinct actives (the MAU/WAU dashboard metric),
    EXACT: each (day, user) fact contributes itself to the 7 window
    anchors it can serve — a bounded explode of 7 rows per fact — then one
    count_distinct per anchor. No self-join of the event table, no
    quadratic window. (Sketch-sized state at petabyte scale: swap
    count_distinct for `operators.sketch` HLL union, pytest-checked ±5%.)
    """
    ev = table(spark, sf_dir, "events").df
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    # an anchor day is "real" iff some fact lands on it exactly — i.e. a
    # contribution at offset 0 — so the real-days semi-join (which
    # re-executed the whole distinct stream for its build side) folds
    # into the same aggregate as the distinct count: one scan, no join
    anchors = du.select(
        F.col("day").alias("fact_day"),
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
        "user_id",
    )
    return (
        anchors.groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("mau7"),
            F.max((F.col("day") == F.col("fact_day")).cast("int")).alias("__real"),
        )
        .where(F.col("__real") == 1)
        .drop("__real")
    )


@query(
    "audio_frame_features",
    """
    WITH s AS (
      SELECT doc_id, f.frame_idx,
             list_transform(generate_series(f.frame_idx * 64, f.frame_idx * 64 + 63),
               i -> CAST(((i * (doc_id % 8 + 1)) % 64) * 200 - 6400 AS DOUBLE)) AS pcm
      FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d,
           (SELECT unnest(generate_series(0, 3)) AS frame_idx) f
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           sqrt(list_aggregate(list_transform(pcm, v -> v * v), 'avg')) / 32768.0
             AS rms,
           list_aggregate(list_transform(pcm, v -> abs(v)), 'max') / 32768.0 AS peak
    FROM s
    """,
)
def audio_frame_features(spark, sf_dir):
    """Frame-level audio windowing over REALLY-decoded PCM (64-sample
    frames from the 256-sample WAVs -> 4 frames each): per-frame RMS +
    peak, the VAD/ASR frontend shape. The integer sawtooth synth keeps the
    oracle bit-exact."""
    docs = table(spark, sf_dir, "documents").df.filter(F.col("doc_id") < 100)
    blobs = multimodal.attach_audio_blobs(docs.select("doc_id"))
    return multimodal.audio_frame_features(blobs, frame_samples=64)


@query(
    "ewma_smoothing",
    """
    WITH ord AS (
      SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vs
      FROM events WHERE user_id < 50 GROUP BY user_id
    )
    SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
           floor(list_reduce(vs, (a, b) -> 0.7 * a + 0.3 * b) * 1000000 + 0.5)
             / 1000000 AS ewma
    FROM ord
    """,
)
def ewma_smoothing(spark, sf_dir):
    """Per-key exponential moving average (alpha=0.3) — the sequential
    smoother that has no windowed closed form without overflowing
    alpha^-i. Values collect per key (bounded by a key's history, the
    same contract as ordered collect_list aggregates) and fold once with
    an `aggregate` HOF; the sequential double arithmetic is bit-identical
    across engines."""
    ev = table(spark, sf_dir, "events").df.where(F.col("user_id") < 50)
    ordered = ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("value").alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("vs")
    )
    ewma = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at(F.col("vs"), 1),
        lambda acc, x: F.lit(0.7) * acc + F.lit(0.3) * x,
    )
    return ordered.select(
        "user_id",
        F.size("vs").cast("bigint").alias("n"),
        fround(ewma, 6).alias("ewma"),
    )


@query(
    "dedup_containment",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000,
             array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1, 12), ' ')
      FROM documents WHERE doc_id % 5 = 0
    ),
    d AS (
      SELECT doc_id, list_sort(list_distinct(list_transform(
               list_distinct(list_transform(
                 generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
               )),
               g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
             ))) AS ng
      FROM corpus
    )
    SELECT a.doc_id AS id_in, b.doc_id AS id_out,
           floor(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) / len(a.ng)
                 * 1000000 + 0.5) / 1000000 AS containment
    FROM d a JOIN d b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) / len(a.ng) >= 0.8
    """,
)
def dedup_containment(spark, sf_dir):
    """Asymmetric containment join over a corpus with planted excerpts
    (the first 12 words of every 5th doc re-ingested as its own page):
    pairs where >=80% of the inner doc's 3-gram set appears in the outer
    doc. Prefix-filtered on the inner side only — exact w.r.t. the
    threshold; the oracle brute-forces all pairs."""
    docs = table(spark, sf_dir, "documents").df
    # one scan emits each doc + its (conditional) excerpt page — the
    # union of two projections of the same table read it twice
    corpus = docs.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(F.col("doc_id"), F.col("text")),
                    F.when(
                        F.col("doc_id") % 5 == 0,
                        F.struct(
                            (F.col("doc_id") + 200000).alias("doc_id"),
                            F.array_join(
                                F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 12),
                                " ",
                            ).alias("text"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__r")
    ).select("__r.*")
    pairs = dedup.containment_pairs(corpus, n=3, min_containment=0.8)
    return pairs.withColumn("containment", fround(F.col("containment"), 6))


@query(
    "corpus_term_drift",
    """
    WITH tok AS (
      SELECT doc_id % 3 = 0 AS a, doc_id % 3 <> 0 AS b,
             unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
      FROM documents
    ),
    counts AS (
      SELECT term,
             sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN b THEN 1 ELSE 0 END) AS cb
      FROM tok GROUP BY term
    ),
    tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb, count(*) AS v FROM counts)
    SELECT term, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
           floor((ca + 1.0) / (tot.ta + tot.v) * 1e12 + 0.5) / 1e12 AS p_a,
           floor((cb + 1.0) / (tot.tb + tot.v) * 1e12 + 0.5) / 1e12 AS p_b,
           floor((ca + 1.0) / (tot.ta + tot.v)
                 * ln(((ca + 1.0) / (tot.ta + tot.v))
                      / ((cb + 1.0) / (tot.tb + tot.v))) * 1e12 + 0.5) / 1e12
             AS kl_term
    FROM counts, tot
    ORDER BY abs((ca + 1.0) / (tot.ta + tot.v)
                 * ln(((ca + 1.0) / (tot.ta + tot.v))
                      / ((cb + 1.0) / (tot.tb + tot.v)))) DESC, term
    LIMIT 20
    """,
)
def corpus_term_drift(spark, sf_dir):
    """Which terms most explain the distribution shift between two corpus
    cohorts (KL contributions, add-one smoothed): the drift monitor a
    dataset registry runs between crawl versions. One scan, one vocabulary
    shuffle, heap top-20."""
    docs = table(spark, sf_dir, "documents").df
    out = text.term_drift(docs, F.col("doc_id") % 3 == 0, F.col("doc_id") % 3 != 0)
    return out.select(
        "term",
        F.col("ca").cast("bigint").alias("ca"),
        F.col("cb").cast("bigint").alias("cb"),
        fround(F.col("p_a"), 12).alias("p_a"),
        fround(F.col("p_b"), 12).alias("p_b"),
        fround(F.col("kl_term"), 12).alias("kl_term"),
    )


@query(
    "hard_negative_mining",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    b AS (SELECT vec_id, v, {_bucket_frag} AS bucket FROM e)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           floor({_cos_frag("a.v", "c.v")} * 1000000 + 0.5) / 1000000 AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {_cos_frag("a.v", "c.v")} >= 0.3 AND {_cos_frag("a.v", "c.v")} < 0.9
    """,
)
def hard_negative_mining(spark, sf_dir):
    """Contrastive hard negatives: same-LSH-bucket pairs in the
    similar-but-not-duplicate cosine band [0.3, 0.9) — the training pairs
    that define a retriever's decision boundary, mined from the same
    blocked pair stream as the dedup pass. The floor sits at 0.3 (not the
    0.5 a production miner might pick) so the band is non-empty at the
    sf0.01 correctness gate: at 0.5 the same-bucket pair stream has zero
    rows there and the oracle match is value-blind (0-vs-0)."""
    emb = table(spark, sf_dir, "embeddings").df
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = similarity.hard_negatives(base, lo=0.3, hi=0.9, num_planes=_PLANES)
    return out.withColumn("cosine", fround(F.col("cosine"), 6))


@query(
    "temperature_sampling_shares",
    """
    WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS tot FROM per),
    p AS (SELECT lang, n_docs, n_docs / CAST(tot AS DOUBLE) AS raw_share,
                 pow(n_docs / CAST(tot AS DOUBLE), 0.7) AS pw
          FROM per, t),
    z AS (SELECT sum(pw) AS z FROM p)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           floor(raw_share * 1e9 + 0.5) / 1e9 AS raw_share,
           floor(pw / z.z * 1e9 + 0.5) / 1e9 AS sampled_share,
           floor(pw / z.z / raw_share * 1e9 + 0.5) / 1e9 AS boost
    FROM p, z
    """,
)
def temperature_sampling_shares(spark, sf_dir):
    """Alpha=0.7 temperature flattening of per-language corpus shares (the
    multilingual pretraining mix): low-resource languages get boosted,
    the head stays dominant. Single-job plan — the two normalizers ride as
    lazy one-row cross joins."""
    docs = table(spark, sf_dir, "documents").df
    out = text.temperature_shares(docs, by="lang", alpha=0.7)
    return out.select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        fround(F.col("raw_share"), 9).alias("raw_share"),
        fround(F.col("sampled_share"), 9).alias("sampled_share"),
        fround(F.col("boost"), 9).alias("boost"),
    )


@query(
    "unpivot_metrics",
    """
    WITH wide AS (
      SELECT l_returnflag,
             floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
             floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_price,
             floor(avg(l_discount) * 1000000 + 0.5) / 1000000 AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value FROM wide
    UNPIVOT (value FOR metric IN (sum_qty, sum_price, avg_disc))
    """,
)
def unpivot_metrics(spark, sf_dir):
    """Wide-to-long melt (the inverse of pivot): per-flag metric columns
    unpivot to (key, metric, value) rows — `DataFrame.unpivot`, a pure
    map-side Expand (3 output rows per input row, no shuffle beyond the
    feeding aggregate)."""
    li = table(spark, sf_dir, "lineitem").df
    wide = li.groupBy("l_returnflag").agg(
        fround(F.sum("l_quantity"), 2).alias("sum_qty"),
        fround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        fround(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "avg_disc"], "metric", "value"
    )


@query(
    "entity_fuzzy_match",
    """
    WITH recs AS (
      SELECT p_partkey AS id, p_name || '#' || p_partkey AS k FROM part
      UNION ALL
      SELECT p_partkey + 500000,
             substr(p_name || '#' || p_partkey, 1, 2)
               || substr(p_name || '#' || p_partkey, 4)
      FROM part WHERE p_partkey % 7 = 0
    ),
    b AS (SELECT id, k, substr(k, -4) AS blk, length(k) AS ln FROM recs)
    SELECT a.id AS id_a, c.id AS id_b, a.k AS k_a, c.k AS k_b,
           CAST(levenshtein(a.k, c.k) AS INT) AS distance
    FROM b a JOIN b c ON a.blk = c.blk AND a.id < c.id
    WHERE abs(a.ln - c.ln) <= 2 AND levenshtein(a.k, c.k) <= 2
    """,
)
def entity_fuzzy_match(spark, sf_dir):
    """Entity resolution: blocked fuzzy matching over record keys with
    planted single-edit corruptions (3rd char dropped). Blocking must key
    on a STABLE portion of the field — here the 4-char suffix the
    corruption can't touch; a low-cardinality prefix block (first try:
    2 chars, ~10 distinct name starts) made block sizes O(corpus/10) and
    the pair space quadratic, 56 s at sf0.1 vs <1 s suffix-blocked. A
    derived length-band conjunct prunes before Levenshtein evaluates.
    The oracle brute-forces the same blocks."""
    from graphique_spark.operators.entity import blocked_fuzzy_pairs

    part = table(spark, sf_dir, "part").df
    # one scan emits base + (conditional) corrupted twin per row — the
    # union of two projections of the same table read it twice, and the
    # blocked self-join doubles whatever its input costs
    full_k = F.concat_ws("#", "p_name", "p_partkey")
    recs = part.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.col("p_partkey").alias("rid"), full_k.alias("k")
                    ),
                    F.when(
                        F.col("p_partkey") % 7 == 0,
                        F.struct(
                            (F.col("p_partkey") + 500000).alias("rid"),
                            F.concat(
                                F.substring(full_k, 1, 2),
                                F.expr(
                                    "substring(concat_ws('#', p_name, p_partkey), 4)"
                                ),
                            ).alias("k"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__r")
    ).select("__r.*")
    pairs = blocked_fuzzy_pairs(
        recs, key="k", block=F.col("k").substr(-4, 4), id_col="rid", max_distance=2
    )
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "k_a",
        "k_b",
        F.col("distance").cast("int").alias("distance"),
    )


@query(
    "winsorize_clip",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           floor(avg(least(greatest(e.value, b.lo), b.hi)) * 10000 + 0.5) / 10000
             AS clipped_mean,
           floor(avg(e.value) * 10000 + 0.5) / 10000 AS raw_mean
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def winsorize_clip(spark, sf_dir):
    """Per-group winsorization (clip to [p5, p95]) — the outlier treatment
    feature pipelines apply before aggregating heavy-tailed metrics. Two
    passes: a tiny per-group percentile aggregate broadcasts back into a
    map-side clip; the report compares clipped vs raw means and counts
    what was clipped."""
    ev = table(spark, sf_dir, "events").df
    # both clip bounds from one percentile buffer (array form — identical
    # arithmetic, half the aggregate state)
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.array(F.lit(0.05), F.lit(0.95))).alias("__b")
    ).select(
        "event_type",
        F.element_at("__b", 1).alias("lo"),
        F.element_at("__b", 2).alias("hi"),
    )
    joined = ev.join(F.broadcast(bounds), on="event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("value") < F.col("lo")).cast("long")).cast("bigint").alias("n_clipped_lo"),
        F.sum((F.col("value") > F.col("hi")).cast("long")).cast("bigint").alias("n_clipped_hi"),
        fround(F.avg(clipped), 4).alias("clipped_mean"),
        fround(F.avg("value"), 4).alias("raw_mean"),
    )


@query(
    "dedup_savings_report",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.7
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs WHERE jaccard >= 0.7
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    ),
    comp AS (SELECT v, min(label) AS component FROM reach GROUP BY v),
    att AS (SELECT c.v, c.component, d.n_chars
            FROM comp c JOIN documents d ON c.v = d.doc_id),
    k AS (
      SELECT component, v AS keep_id FROM (
        SELECT *, row_number() OVER (PARTITION BY component
                                     ORDER BY n_chars DESC, v) AS rn
        FROM att) WHERE rn = 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_dropped,
           CAST(sum(a.n_chars) AS BIGINT) AS chars_dropped,
           tot.total_docs, tot.total_chars,
           floor(sum(a.n_chars) / CAST(tot.total_chars AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS savings_frac
    FROM att a JOIN k USING (component) CROSS JOIN tot
    WHERE a.v <> k.keep_id
    GROUP BY tot.total_docs, tot.total_chars
    """,
)
def dedup_savings_report(spark, sf_dir):
    """The dedup ROI number a curation run reports up: if near-dups (MinHash
    0.7) are dropped keeping the longest member per component, how many
    documents and characters disappear, and what fraction of the corpus is
    that? Same pipeline as `dedup_canonical` with a one-row rollup; the
    corpus totals ride in as a lazy scalar cross join."""
    docs = table(spark, sf_dir, "documents").df
    pairs = dedup.minhash_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.7
    )
    comps = dedup.connected_components(pairs)
    picked = dedup.canonical_pick(comps, docs.select("doc_id", "n_chars"))
    dropped = picked.where(F.col("is_duplicate")).join(
        docs.select("doc_id", "n_chars"), on="doc_id"
    )
    totals = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return (
        dropped.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dropped"),
            F.sum("n_chars").cast("bigint").alias("chars_dropped"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_dropped",
            "chars_dropped",
            "total_docs",
            "total_chars",
            fround(
                F.col("chars_dropped") / F.col("total_chars").cast("double"), 6
            ).alias("savings_frac"),
        )
    )


@query(
    "balanced_shard_manifest",
    """
    WITH c AS (
      SELECT doc_id, n_chars,
             sum(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    t AS (SELECT max(cum) AS total FROM c)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM (
      SELECT least(CAST(floor(cum * 16.0 / t.total) AS INT), 15) AS shard, n_chars
      FROM c, t
    ) GROUP BY shard
    """,
)
def balanced_shard_manifest(spark, sf_dir):
    """Weight-balanced sharding audit: 16 contiguous equal-character spans
    over the md5-shuffled corpus — per-shard char totals land within one
    document of total/16 regardless of length skew. The oracle replays the
    same cut with a window cumsum."""
    docs = table(spark, sf_dir, "documents").df
    out = text.balanced_shards(docs, 16, weight="n_chars")
    return out.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


@query(
    "corpus_diversity",
    """
    WITH g AS (
      SELECT source,
             unnest(list_transform(
               generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 1, 1)),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 1), ' ')
             )) AS gram
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total_2grams,
           CAST(count(DISTINCT gram) AS BIGINT) AS distinct_2grams,
           floor(count(DISTINCT gram) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS diversity
    FROM g GROUP BY source
    """,
)
def corpus_diversity(spark, sf_dir):
    """Per-source n-gram diversity (distinct/total 2-gram ratio — the
    self-repetition signal across a whole source, the corpus-level
    counterpart of the per-doc Gopher filters): low diversity marks
    template farms worth down-weighting. One explode + one
    count-distinct aggregate per source."""
    from graphique_spark.llm.dedup import ensure_parallelism

    docs = ensure_parallelism(table(spark, sf_dir, "documents").df)
    # the multiset matters: dedup.word_ngrams dedups in-row, which would
    # overstate diversity for self-repetitive documents
    grams = docs.select(
        "source", F.explode(text._all_word_ngrams(F.col("text"), 2)).alias("gram")
    )
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_2grams"),
        F.count_distinct("gram").cast("bigint").alias("distinct_2grams"),
        fround(
            F.count_distinct("gram") / F.count(F.lit(1)).cast("double"), 6
        ).alias("diversity"),
    )


@query(
    "entity_clusters",
    """
    WITH RECURSIVE recs AS (
      SELECT p_partkey AS id, p_name || '#' || p_partkey AS k FROM part
      UNION ALL
      SELECT p_partkey + 500000,
             substr(p_name || '#' || p_partkey, 1, 2)
               || substr(p_name || '#' || p_partkey, 4)
      FROM part WHERE p_partkey % 7 = 0
      UNION ALL
      SELECT p_partkey + 900000, p_name || '#' || p_partkey || 'x'
      FROM part WHERE p_partkey % 14 = 0
    ),
    b AS (SELECT id, k, substr(k, -4) AS blk,
                 CASE WHEN k LIKE '%x' THEN substr(k, -5, 4) ELSE substr(k, -4) END AS blk2,
                 length(k) AS ln
          FROM recs),
    pairs AS (
      SELECT a.id AS pa, c.id AS pb
      FROM b a JOIN b c ON a.blk2 = c.blk2 AND a.id < c.id
      WHERE abs(a.ln - c.ln) <= 2 AND levenshtein(a.k, c.k) <= 2
    ),
    edges AS (SELECT pa AS a, pb AS b FROM pairs
              UNION SELECT pb, pa FROM pairs),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    )
    SELECT v AS id, CAST(min(label) AS BIGINT) AS cluster,
           v <> min(label) AS is_duplicate
    FROM reach GROUP BY v
    """,
)
def entity_clusters(spark, sf_dir):
    """End-to-end entity resolution: fuzzy pairs (two corruption kinds —
    dropped 3rd char and appended 'x', blocked on the corruption-stable
    4-char stem) -> connected components -> canonical record per cluster.
    The same pairs-to-groups machinery text dedup uses, against a
    recursive-CTE oracle."""
    from graphique_spark.operators.entity import blocked_fuzzy_pairs

    part = table(spark, sf_dir, "part").df
    mk = F.concat_ws("#", "p_name", "p_partkey")
    # one scan emits base + up to two (conditional) corrupted twins per
    # row — the 3-way union of projections of the same table read it
    # three times, and the blocked self-join doubles whatever that costs
    recs = part.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(F.col("p_partkey").alias("rid"), mk.alias("k")),
                    F.when(
                        F.col("p_partkey") % 7 == 0,
                        F.struct(
                            (F.col("p_partkey") + 500000).alias("rid"),
                            F.concat(
                                F.substring(mk, 1, 2),
                                F.expr(
                                    "substring(concat_ws('#', p_name, p_partkey), 4)"
                                ),
                            ).alias("k"),
                        ),
                    ),
                    F.when(
                        F.col("p_partkey") % 14 == 0,
                        F.struct(
                            (F.col("p_partkey") + 900000).alias("rid"),
                            F.concat(mk, F.lit("x")).alias("k"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__r")
    ).select("__r.*")
    # the block key must come from the corruption-stable STEM: strip the
    # appended 'x' before taking the suffix
    stem = F.when(
        F.col("k").endswith("x"), F.expr("substring(k, 1, length(k) - 1)")
    ).otherwise(F.col("k"))
    pairs = blocked_fuzzy_pairs(
        recs, key="k", block=stem.substr(-4, 4), id_col="rid", max_distance=2
    )
    comps = dedup.connected_components(
        pairs.select(F.col("id_a"), F.col("id_b")), src="id_a", dst="id_b"
    )
    return comps.select(
        F.col("v").cast("bigint").alias("id"),
        F.col("component").cast("bigint").alias("cluster"),
        (F.col("v") != F.col("component")).alias("is_duplicate"),
    )


@query(
    "image_channel_histograms",
    """
    WITH img AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h
      FROM documents WHERE doc_id < 50
    ),
    px AS (
      SELECT doc_id, c.c AS channel,
             flatten(list_transform(generate_series(0, h - 1), y ->
               list_transform(generate_series(0, w - 1), x ->
                 (x + y + c.c + doc_id) % 256))) AS vals
      FROM img, (SELECT unnest([0, 1, 2]) AS c) c
    )
    SELECT doc_id, CAST(channel AS INT) AS channel, CAST(b.b AS INT) AS bin,
           CAST(len(list_filter(vals, v -> v // 16 = b.b)) AS BIGINT) AS cnt
    FROM px, (SELECT unnest(generate_series(0, 15)) AS b) b
    """,
)
def image_channel_histograms(spark, sf_dir):
    """16-bin per-channel intensity histograms over REALLY-decoded PPM
    pixels (np.bincount per channel, Arrow-batched) — the color-feature
    pass behind exposure audits and cheap visual clustering. The oracle
    rebuilds the gradient pixels and bins them in SQL. The gate shape is
    scalar rows (doc_id, channel, bin, cnt) — posexploded from the
    operator's count array, which pandas-based canonicalizers can't
    hash."""
    docs = table(spark, sf_dir, "documents").df.where(F.col("doc_id") < 50)
    blobs = multimodal.attach_image_blobs(docs.select("doc_id"))
    hist = multimodal.channel_histograms(blobs, bins=16)
    return hist.select(
        "doc_id",
        F.col("channel").cast("int").alias("channel"),
        F.posexplode("counts").alias("bin", "cnt"),
    ).select(
        "doc_id",
        "channel",
        F.col("bin").cast("int").alias("bin"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


@query(
    "resample_interpolate",
    """
    WITH obs AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value
      FROM events WHERE user_id < 30 AND event_id % 3 = 0
    ),
    bounds AS (
      SELECT user_id,
             epoch_us(date_trunc('hour', min(to_timestamp(t / 1000000.0)))) AS lo,
             max(t) AS hi
      FROM obs GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS gt
      FROM bounds
    ),
    prev AS (
      SELECT g.user_id, g.gt, max(o.t) AS pt, arg_max(o.value, o.t) AS pv
      FROM grid g JOIN obs o ON g.user_id = o.user_id AND o.t <= g.gt
      GROUP BY g.user_id, g.gt
    ),
    nxt AS (
      SELECT g.user_id, g.gt, min(o.t) AS nt, arg_min(o.value, o.t) AS nv
      FROM grid g JOIN obs o ON g.user_id = o.user_id AND o.t >= g.gt
      GROUP BY g.user_id, g.gt
    )
    SELECT g.user_id, CAST(g.gt AS BIGINT) AS gt,
           floor(CASE
             WHEN p.pt IS NULL THEN n.nv
             WHEN n.nt IS NULL THEN p.pv
             WHEN n.nt = p.pt THEN p.pv
             ELSE p.pv + (n.nv - p.pv) * (g.gt - p.pt) / CAST(n.nt - p.pt AS DOUBLE)
           END * 1000000 + 0.5) / 1000000 AS v
    FROM grid g LEFT JOIN prev p ON g.user_id = p.user_id AND g.gt = p.gt
                LEFT JOIN nxt n ON g.user_id = n.user_id AND g.gt = n.gt
    """,
)
def resample_interpolate(spark, sf_dir):
    """Time-series resampling to a regular hourly grid with linear
    interpolation between the surrounding sparse observations (the
    sensor/metrics upsampling step): the grid is an in-row sequence
    explode; the surrounding observations come from TWO as-of joins
    (backward + forward) — per-key sorted merges, never the per-key
    cross product a range join over (prev, next] would build. Edges
    carry the nearest observation."""
    from graphique_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events").df.where(
        (F.col("user_id") < 30) & (F.col("event_id") % 3 == 0)
    )
    obs = ev.select("user_id", F.unix_micros("ts").alias("t"), "value")
    bounds = obs.groupBy("user_id").agg(
        F.unix_micros(
            F.date_trunc("hour", F.timestamp_micros(F.min("t")))
        ).alias("lo"),
        F.max("t").alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.lit(3600000000))).alias("gt"),
    )
    # the as-of payload excludes the right-side ON column, so each side
    # carries a copy of its own timestamp for the interpolation arithmetic
    prev = asof_join(
        grid,
        obs.select(
            "user_id",
            F.col("t").alias("__pon"),
            F.col("t").alias("pt"),
            F.col("value").alias("pv"),
        ),
        on="gt",
        right_on="__pon",
        by=["user_id"],
        direction="backward",
    ).select("user_id", "gt", "pt", "pv")
    both = asof_join(
        prev,
        obs.select(
            "user_id",
            F.col("t").alias("__non"),
            F.col("t").alias("nt"),
            F.col("value").alias("nv"),
        ),
        on="gt",
        right_on="__non",
        by=["user_id"],
        direction="forward",
    )
    v = (
        F.when(F.col("pt").isNull(), F.col("nv"))
        .when(F.col("nt").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("gt") - F.col("pt"))
            / (F.col("nt") - F.col("pt")).cast("double")
        )
    )
    return both.select(
        "user_id", F.col("gt").cast("bigint").alias("gt"), fround(v, 6).alias("v")
    )


@query(
    "table_checksum_audit",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(('0x' || substr(md5(
             concat_ws(chr(31),
               coalesce(CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(doc_id AS VARCHAR), chr(0)),
               coalesce(CAST(length(text) AS VARCHAR) || ':' || text, chr(0)),
               coalesce(CAST(length(lang) AS VARCHAR) || ':' || lang, chr(0)),
               coalesce(CAST(length(CAST(n_chars AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(n_chars AS VARCHAR), chr(0)))),
             1, 15)) AS BIGINT))
             % 2305843009213693952 AS BIGINT)
             AS checksum
    FROM documents GROUP BY source
    """,
)
def table_checksum_audit(spark, sf_dir):
    """Content checksum per source — the order-insensitive, engine-portable
    integrity number to store next to data: sum of
    md5-derived 60-bit row hashes mod 2^61, published as int64 (the
    DECIMAL accumulator is internal; the bounded form survives pandas /
    Arrow / JSON exactly, where HUGEINT/DECIMAL lossy-cast to float64).
    Commutative, so it map-side combines and survives any repartitioning.
    Any engine with md5 reproduces it — which is exactly what this oracle
    does."""
    from graphique_spark.sources import table_checksum

    docs = table(spark, sf_dir, "documents").df
    return table_checksum(docs, by=["source"])


_QN_BOUNDS = "[" + ", ".join(f"{i / 20:.2f}" for i in range(21)) + "]"


@query(
    "quantile_normalize_scores",
    f"""
    WITH w AS ({{_QUALITY_CTE}}),
    f AS (
      SELECT doc_id, source,
             floor(1.0 / (1.0 + exp(-((-3.0)
               + 0.5 * ln(CAST(length(text) AS DOUBLE) + 1.0)
               + 6.0 * (CASE WHEN tokens = 0 THEN 0.0
                             ELSE CAST(stop_hits AS DOUBLE) / tokens END)
               - 8.0 * (CASE WHEN length(text) = 0 THEN 0.0
                             ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                                  / length(text) END)
               - 0.3 * abs((CASE WHEN len(words) = 0 THEN 0.0
                                 ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
                                      / len(words) END) - 5.0))))
               * 10000 + 0.5) AS q
      FROM w
    ),
    b AS (SELECT quantile_cont(q, {_QN_BOUNDS}) AS bounds FROM f),
    r AS (
      SELECT doc_id, source, q,
             percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pr
      FROM f
    )
    SELECT doc_id, source, CAST(q AS BIGINT) AS q,
           floor((CASE WHEN pr >= 1.0 THEN bounds[21]
                 ELSE bounds[CAST(floor(pr * 20) AS INT) + 1]
                      + (pr * 20 - floor(pr * 20))
                      * (bounds[CAST(floor(pr * 20) AS INT) + 2]
                         - bounds[CAST(floor(pr * 20) AS INT) + 1]) END)
                 * 1000000 + 0.5) / 1000000 AS q_norm
    FROM r, b
    """.replace("{_QUALITY_CTE}", _QUALITY_CTE),
)
def quantile_normalize_scores(spark, sf_dir):
    """Cross-source score calibration (quantile normalization): each
    document's quality score is replaced by the GLOBAL score at its
    within-source percentile, so a harsh source and a lenient source
    become comparable before a single threshold applies. One 21-point
    global percentile row broadcasts; ranks are per-source windows;
    the remap is in-row interpolation."""
    from pyspark.sql import Window

    docs = _spread(table(spark, sf_dir, "documents")).df
    scored = docs.select(
        "doc_id",
        "source",
        F.floor(text.logistic_quality(F.col("text")) * 10000.0 + F.lit(0.5)).alias("q"),
    )
    bounds = scored.agg(
        F.expr(f"percentile(q, array({', '.join(f'{i / 20:.2f}' for i in range(21))}))").alias(
            "bounds"
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("q"), F.col("doc_id"))
    ranked = scored.withColumn("pr", F.percent_rank().over(w))
    idx = F.floor(F.col("pr") * 20).cast("int")
    frac = F.col("pr") * 20 - F.floor(F.col("pr") * 20)
    interp = F.element_at(F.col("bounds"), idx + 1) + frac * (
        F.element_at(F.col("bounds"), idx + 2) - F.element_at(F.col("bounds"), idx + 1)
    )
    q_norm = F.when(F.col("pr") >= 1.0, F.element_at(F.col("bounds"), 21)).otherwise(
        interp
    )
    return ranked.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "source",
        F.col("q").cast("bigint").alias("q"),
        fround(q_norm, 6).alias("q_norm"),
    )


@query(
    "pack_efficiency",
    """
    WITH c AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             sum(len(string_split_regex(trim(text), '\\s+')))
               OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    placed AS (
      SELECT doc_id, n_tokens,
             CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_first,
             CAST((cum - 1) // 2048 AS BIGINT) AS bin_last
      FROM c
    )
    SELECT CAST(count(DISTINCT bin_first) AS BIGINT) AS n_bins,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddlers,
           floor(sum(n_tokens)
                 / (CAST(max(bin_last) + 1 AS DOUBLE) * 2048) * 1000000 + 0.5)
             / 1000000 AS fill_ratio
    FROM placed
    """,
)
def pack_efficiency(spark, sf_dir):
    """Packing-efficiency report over `pack_sequences` (2048-token bins in
    doc_id order): bins used, documents straddling a cut, and the fill
    ratio — the loader-utilization number that decides whether the packing
    recipe wastes compute. One rollup over the packing output."""
    docs = table(spark, sf_dir, "documents").df
    packed = text.pack_sequences(docs, capacity=2048)
    return packed.agg(
        F.count_distinct("bin_first").cast("bigint").alias("n_bins"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum((F.col("bin_last") > F.col("bin_first")).cast("long"))
        .cast("bigint")
        .alias("n_straddlers"),
        fround(
            F.sum("n_tokens") / ((F.max("bin_last") + 1).cast("double") * 2048), 6
        ).alias("fill_ratio"),
    )


@query(
    "lang_confusion_audit",
    f"""
    SELECT lang AS labeled, detected, CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM (
      SELECT doc_id, lang, {_langid_case()} AS detected FROM documents
    ) GROUP BY labeled, detected
    """,
)
def lang_confusion_audit(spark, sf_dir):
    """Label-quality audit: confusion matrix between the corpus's stored
    language label and the stopword-heuristic detector — the disagreement
    cells are the mislabeled-metadata candidates a curation run reviews.
    One map-side detection expression, one aggregate."""
    docs = _spread(table(spark, sf_dir, "documents")).df
    return (
        docs.select(
            "doc_id",
            F.col("lang").alias("labeled"),
            text.language_id(F.col("text")).alias("detected"),
        )
        .groupBy("labeled", "detected")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


@query(
    "conversion_timing",
    """
    WITH c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    firstconv AS (
      SELECT c.user_id, c.event_id,
             min(epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0 AS lag_s
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      GROUP BY c.user_id, c.event_id
    )
    SELECT user_id % 5 AS cohort, CAST(count(*) AS BIGINT) AS conversions,
           floor(quantile_cont(lag_s, 0.5) * 10000 + 0.5) / 10000 AS p50_s,
           floor(quantile_cont(lag_s, 0.9) * 10000 + 0.5) / 10000 AS p90_s
    FROM firstconv GROUP BY cohort
    """,
)
def conversion_timing(spark, sf_dir):
    """Time-to-convert distribution: for each click, the lag to its FIRST
    purchase within the hour (min over the interval-join matches), then
    per-cohort p50/p90 — the latency half of funnel analysis. The interval
    join is the watermark-bounded streaming shape run in batch."""
    ev = table(spark, sf_dir, "events").df
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = streaming.interval_join(
        clicks, purchases, keys=["user_id"], lower="0 seconds", upper="1 hour"
    )
    first = joined.groupBy("user_id", "event_id").agg(
        (
            F.min(F.unix_micros("r_ts") - F.unix_micros("ts")) / 1_000_000.0
        ).alias("lag_s")
    )
    q = lambda p: fround(F.expr(f"percentile(lag_s, {p})"), 4)
    return first.groupBy((F.col("user_id") % 5).alias("cohort")).agg(
        F.count(F.lit(1)).cast("bigint").alias("conversions"),
        q(0.5).alias("p50_s"),
        q(0.9).alias("p90_s"),
    )


@query(
    "rolling_zscore_anomalies",
    """
    WITH s AS (
      SELECT event_id, event_type, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sigma,
             count(*) OVER w AS n_win
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_flagged,
           CAST(min(event_id) AS BIGINT) AS first_anomaly
    FROM s
    WHERE n_win >= 30 AND sigma > 0
      AND abs(value - mu) > 3.5 * sigma
    GROUP BY event_type
    """,
)
def rolling_zscore_anomalies(spark, sf_dir):
    """Streaming-style anomaly flags in batch: each value scored against
    the TRAILING 100 observations of its own series (frame ends 1
    PRECEDING, so a spike never masks itself), flagged beyond 3.5 sigma
    once 30 observations warm the window. One partitioned sort, one
    frame."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").df
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(-100, -1)
    )
    scored = ev.select(
        "event_id",
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    return (
        scored.where(
            (F.col("n_win") >= 30)
            & (F.col("sigma") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > 3.5 * F.col("sigma"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
            F.min("event_id").cast("bigint").alias("first_anomaly"),
        )
    )


@query(
    "open_orders_backlog",
    """
    WITH deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS day, 1 AS d FROM orders
      UNION ALL
      SELECT CAST(o_orderdate AS DATE) + 30, -1 FROM orders
    ),
    daily AS (SELECT day, sum(d) AS net FROM deltas GROUP BY day)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_orders
    FROM daily
    """,
)
def open_orders_backlog(spark, sf_dir):
    """Concurrency counting (the interval-overlap-count pattern): each
    order contributes +1 at start and -1 at its 30-day close; the daily
    backlog is a running sum over the per-day NET deltas — O(days) window
    rows after aggregation, never an interval self-join."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").df
    # one scan emits both deltas per order (a union of two projections of
    # the same table reads it twice)
    deltas = orders.select(
        F.explode(
            F.array(
                F.struct(F.to_date("o_orderdate").alias("day"), F.lit(1).alias("d")),
                F.struct(
                    F.date_add(F.to_date("o_orderdate"), 30).alias("day"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("__e")
    ).select("__e.*")
    daily = deltas.groupBy("day").agg(F.sum("d").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.sum("net").over(w).cast("bigint").alias("open_orders"),
    )


@query(
    "grouping_sets_report",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(CAST(user_id % 4 AS VARCHAR), '(all)') AS cohort,
           CAST(count(*) AS BIGINT) AS n,
           floor(sum(value) * 100 + 0.5) / 100 AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type), ((user_id % 4)), ())
    """,
)
def grouping_sets_report(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    per-type totals, per-cohort totals, and the grand total from ONE scan
    — Spark's Expand operator fans each row into its grouping sets before
    the single aggregate; three separate GROUP BYs would scan three
    times."""
    ev = table(spark, sf_dir, "events").df
    ev.createOrReplaceTempView("__gs_events")
    return ev.sparkSession.sql(
        """
        SELECT coalesce(event_type, '(all)') AS event_type,
               coalesce(CAST(user_id % 4 AS STRING), '(all)') AS cohort,
               CAST(count(*) AS BIGINT) AS n,
               floor(sum(value) * 100 + 0.5) / 100 AS total
        FROM __gs_events
        GROUP BY GROUPING SETS ((event_type), ((user_id % 4)), ())
        """
    )


@query(
    "session_duration_stats",
    """
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id, ts
      FROM ordered
    ),
    durations AS (
      SELECT user_id, session_id,
             (epoch_us(max(ts)) - epoch_us(min(ts))) / 60000000.0 AS minutes,
             count(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           floor(quantile_cont(minutes, 0.5) * 10000 + 0.5) / 10000 AS p50_min,
           floor(quantile_cont(minutes, 0.9) * 10000 + 0.5) / 10000 AS p90_min,
           floor(avg(n_events) * 10000 + 0.5) / 10000 AS mean_events,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounce_sessions
    FROM durations
    """,
)
def session_duration_stats(spark, sf_dir):
    """Session-quality rollup over gap-sessionization: duration
    percentiles, mean depth, bounce count — the engagement numbers a
    product dashboard reads. The sessionizer is the same lag/cumsum shape
    the streaming session_window mirrors."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").df
    lag_ts = F.lag("ts").over(Window.partitionBy("user_id").orderBy("ts"))
    marked = ev.select(
        "user_id",
        "ts",
        F.when(
            lag_ts.isNull()
            | (F.unix_micros("ts") - F.unix_micros(lag_ts) >= 30 * 60 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = marked.withColumn("session_id", F.sum("new_session").over(w))
    durations = sessions.groupBy("user_id", "session_id").agg(
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 60_000_000.0
        ).alias("minutes"),
        F.count(F.lit(1)).alias("n_events"),
    )
    q = lambda p: fround(F.expr(f"percentile(minutes, {p})"), 4)
    return durations.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        q(0.5).alias("p50_min"),
        q(0.9).alias("p90_min"),
        fround(F.avg("n_events"), 4).alias("mean_events"),
        F.sum((F.col("n_events") == 1).cast("long")).cast("bigint").alias("bounce_sessions"),
    )


@query(
    "dedup_cluster_sizes",
    f"""
    WITH RECURSIVE pairs AS ({{_MINHASH_ORACLE}}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.7
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs WHERE jaccard >= 0.7
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    ),
    comp AS (SELECT v, min(label) AS component FROM reach GROUP BY v),
    sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(min(component) AS BIGINT) AS first_cluster
    FROM sizes GROUP BY sz
    """.replace("{_MINHASH_ORACLE}", _MINHASH_ORACLE),
)
def dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size distribution — the shape that distinguishes
    a mirror problem (few giant clusters) from routine duplication (many
    pairs): MinHash components rolled up to a size histogram."""
    docs = table(spark, sf_dir, "documents").df
    pairs = dedup.minhash_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.7
    )
    comps = dedup.connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.min("component").cast("bigint").alias("first_cluster"),
    )


@query(
    "simhash_near_pairs",
    f"""
    WITH ex AS ({_EX_SQL}),
    votes AS (
      SELECT doc_id,
      {_bit_votes}
      FROM ex GROUP BY doc_id
    ),
    sh AS (SELECT doc_id, CAST({_bit_sum} AS BIGINT) AS simhash FROM votes)
    SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(id_a) AS BIGINT) AS first_a
    FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    GROUP BY hamming
    """,
)
def simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs through the SAME pigeonhole Hamming-banding
    operator the image dHash path uses (bits=16, bands=4, hamming<=3 —
    provably no candidate loss): one operator, two modalities. The oracle
    brute-forces all pairs."""
    docs = table(spark, sf_dir, "documents").df
    hashes = dedup.simhash_table(docs, bits=_BITS)
    pairs = multimodal.phash_near_dups(
        hashes, max_hamming=3, bands=4, bits=_BITS, hash_col="simhash"
    )
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("id_a").cast("bigint").alias("first_a"),
    )


@query(
    "pareto_abc_classes",
    """
    WITH per AS (
      SELECT o_custkey, sum(o_totalprice) AS spend FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, spend,
             sum(spend) OVER (ORDER BY spend DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             sum(spend) OVER () AS total
      FROM per
    )
    SELECT cls, CAST(count(*) AS BIGINT) AS n_customers,
           floor(sum(spend) * 100 + 0.5) / 100 AS revenue,
           floor(sum(spend) / max(total) * 1000000 + 0.5) / 1000000 AS share
    FROM (
      SELECT spend, total,
             CASE WHEN cum / total <= 0.8 THEN 'A'
                  WHEN cum / total <= 0.95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM ranked
    ) GROUP BY cls
    """,
)
def pareto_abc_classes(spark, sf_dir):
    """Pareto/ABC classification (the 80/15/5 revenue-concentration
    report): customers ranked by spend, classed by cumulative share. The
    rank runs over the per-customer rollup (range partitioner at scale),
    never raw orders."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").df
    per = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    cum_w = (
        Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy()
    ranked = per.select(
        "spend",
        F.sum("spend").over(cum_w).alias("cum"),
        F.sum("spend").over(tot_w).alias("total"),
    )
    cls = (
        F.when(F.col("cum") / F.col("total") <= 0.8, "A")
        .when(F.col("cum") / F.col("total") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("cls", cls)
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            fround(F.sum("spend"), 2).alias("revenue"),
            fround(F.sum("spend") / F.max("total"), 6).alias("share"),
        )
    )


@query(
    "sla_compliance",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 45 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS within_sla,
           floor(sum(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 45 DAY
                          THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS sla_rate
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sla_compliance(spark, sf_dir):
    """SLA compliance by priority (ship within 45 days of order): one
    shuffle join, conditional counts inside the partial aggregate — the
    operations-dashboard staple."""
    orders = table(spark, sf_dir, "orders").df.select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").df.select("l_orderkey", "l_shipdate")
    ok = F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(ok.cast("long")).cast("bigint").alias("within_sla"),
            fround(F.sum(ok.cast("long")) / F.count(F.lit(1)).cast("double"), 6).alias(
                "sla_rate"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "topn_with_others",
    """
    WITH per AS (
      SELECT n_name, sum(c_acctbal) AS bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    ),
    ranked AS (
      SELECT n_name, bal,
             row_number() OVER (ORDER BY bal DESC, n_name) AS rn
      FROM per
    )
    SELECT CASE WHEN rn <= 5 THEN n_name ELSE '(others)' END AS nation,
           CAST(count(*) AS BIGINT) AS n_merged,
           floor(sum(bal) * 100 + 0.5) / 100 AS bal
    FROM ranked
    GROUP BY CASE WHEN rn <= 5 THEN n_name ELSE '(others)' END
    """,
)
def topn_with_others(spark, sf_dir):
    """Top-N + '(others)' rollup — every dashboard's pie chart: rank over
    the small aggregate, fold the tail into one bucket with a second tiny
    aggregate. No raw-row windows."""
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer").df
    nation = table(spark, sf_dir, "nation").df
    per = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("c_acctbal").alias("bal"))
    )
    rn = F.row_number().over(Window.orderBy(F.col("bal").desc(), F.col("n_name")))
    return (
        per.withColumn("rn", rn)
        .withColumn("nation", F.when(F.col("rn") <= 5, F.col("n_name")).otherwise("(others)"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_merged"),
            fround(F.sum("bal"), 2).alias("bal"),
        )
    )


@query(
    "yoy_growth",
    """
    WITH yearly AS (
      SELECT year(o_orderdate) AS y,
             floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
      FROM orders GROUP BY y
    )
    SELECT y, revenue,
           floor(coalesce((revenue - lag(revenue) OVER (ORDER BY y))
                          / lag(revenue) OVER (ORDER BY y), 0.0)
                 * 1000000 + 0.5) / 1000000 AS yoy
    FROM yearly
    """,
)
def yoy_growth(spark, sf_dir):
    """Year-over-year growth: lag over the 7-row yearly aggregate — the
    window never touches raw orders."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").df
    yearly = orders.groupBy(F.year("o_orderdate").alias("y")).agg(
        fround(F.sum("o_totalprice"), 2).alias("revenue")
    )
    prev = F.lag("revenue").over(Window.orderBy("y"))
    return yearly.select(
        "y",
        "revenue",
        fround(
            F.coalesce((F.col("revenue") - prev) / prev, F.lit(0.0)), 6
        ).alias("yoy"),
    )


@query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    )
    SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS n,
           floor(count(*) / CAST(sum(count(*)) OVER (PARTITION BY event_type)
                 AS DOUBLE) * 1000000 + 0.5) / 1000000 AS p
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY src, dst
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order behavioral transition matrix: P(next event type |
    current) per user journey — the Markov-chain summary behind
    next-action prediction baselines. One per-user window for the lead,
    one 25-cell aggregate, probabilities from a window over the
    aggregate."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").df
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    )
    pairs = (
        ev.select(F.col("event_type").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    row_total = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n",
        fround(F.col("n") / F.sum("n").over(row_total).cast("double"), 6).alias("p"),
    )


@query(
    "source_overlap_matrix",
    f"""
    WITH ex AS ({_EX_SQL}),
    tagged AS (
      SELECT d.source, ex.h FROM ex JOIN documents d ON ex.doc_id = d.doc_id
    ),
    sig AS (SELECT source, {_CORPUS_MINS} FROM tagged GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST({" + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(32))}
                  AS BIGINT) AS n_matches
      FROM sig a JOIN sig b ON a.source < b.source
    )
    SELECT src_a, src_b, n_matches, n_matches / 32.0 AS jaccard_est
    FROM pairs
    """,
)
def source_overlap_matrix(spark, sf_dir):
    """The cross-source contamination matrix: pairwise shingle-set overlap
    estimates between every source pair from ONE scan — per-source MinHash
    signatures (a conditional-min aggregate) then a tiny signature
    self-join; 20 sources never cost 190 scans. Deterministic md5
    permutations make every cell oracle-checkable."""
    docs = table(spark, sf_dir, "documents").df
    return dedup.corpus_overlap_matrix(docs, by="source", num_hashes=32)


@query(
    "new_vs_returning_users",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM daily d JOIN firsts f ON d.user_id = f.user_id
    GROUP BY d.day
    """,
)
def new_vs_returning_users(spark, sf_dir):
    """Daily new-vs-returning split (the growth-accounting staple): first
    activity per user is one aggregate; the classification join rides it
    back (AQE broadcasts the user dimension when it fits)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").df
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    # first activity is an unordered window min over the user partitioning
    # of the SAME distinct stream — the grouped-min + join-back shape
    # executed the distinct (and its scan) twice
    joined = daily.withColumn(
        "first_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return joined.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.sum((F.col("day") == F.col("first_day")).cast("long"))
        .cast("bigint")
        .alias("new_users"),
        F.sum((F.col("day") > F.col("first_day")).cast("long"))
        .cast("bigint")
        .alias("returning_users"),
    )


@query(
    "corpus_novelty",
    """
    WITH grams AS (
      SELECT doc_id, doc_id % 3 = 0 AS is_new,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1)),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
             ))) AS g
      FROM documents
    ),
    base AS (SELECT DISTINCT g FROM grams WHERE NOT is_new),
    scored AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN b.g IS NULL THEN 1 ELSE 0 END) AS n_novel
      FROM grams LEFT JOIN base b USING (g)
      WHERE is_new GROUP BY doc_id
    )
    SELECT CAST(floor(n_novel * 10.0 / n_grams) AS BIGINT) AS novelty_decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM scored GROUP BY novelty_decile
    """,
)
def corpus_novelty(spark, sf_dir):
    """Incremental-crawl novelty: what fraction of each NEW document's
    3-grams was never seen in the base corpus — the per-doc version of the
    registry's 'is this dump worth ingesting' question (drift is
    corpus-level; this ranks documents). Both sides hash nothing here so
    the SQL oracle stays exact; at scale the gram key becomes hash60 like
    decontamination. Rolled into novelty deciles."""
    docs = _spread(table(spark, sf_dir, "documents")).df
    is_new = F.col("doc_id") % 3 == 0
    grams = docs.select(
        "doc_id",
        is_new.alias("is_new"),
        F.explode(dedup.word_ngrams(F.col("text"), 3)).alias("g"),
    )
    # single-pass per-gram fold instead of distinct(base) + broadcast
    # left join: the join form tokenizes the corpus TWICE (one Generate
    # per side) and broadcasts the base gram set — which cannot broadcast
    # at real corpus scale. One gram-partitioned WINDOW sees both cohorts
    # at once: per gram, whether any base row carries it; the new-doc
    # rows then aggregate per doc. Same rows as the join's matched
    # stream, one tokenize, one gram-keyed exchange, no broadcast — and,
    # unlike the earlier collect_list-of-doc-ids fold (ADVICE r12), no
    # unbounded in-row array: a corpus-ubiquitous gram is a large window
    # partition (sort-buffered, spills to disk) instead of one
    # 2GB-capped array row. The hot-gram partition is the same skew
    # either way; this shape degrades to spill, not to a hard failure.
    from pyspark.sql import Window

    seen = grams.withColumn(
        "__seen",
        F.max(F.when(~F.col("is_new"), F.lit(1))).over(Window.partitionBy("g")),
    )
    scored = (
        seen.filter(F.col("is_new"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__seen").isNull().cast("long")).alias("n_novel"),
        )
    )
    return scored.groupBy(
        F.floor(F.col("n_novel") * 10.0 / F.col("n_grams"))
        .cast("bigint")
        .alias("novelty_decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


@query(
    "truncation_loss",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(t, 128)) AS BIGINT) AS tokens_kept,
           CAST(sum(greatest(t - 128, 0)) AS BIGINT) AS tokens_lost,
           floor(sum(greatest(t - 128, 0)) / CAST(sum(t) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS loss_frac
    FROM (
      SELECT source, len(string_split_regex(trim(text), '\\s+')) AS t
      FROM documents
    ) GROUP BY source
    """,
)
def truncation_loss(spark, sf_dir):
    """Context-window truncation waste: tokens beyond a 128-token max per
    document, rolled up per source — the number that decides between
    truncating and chunking a source. Pure map-side arithmetic + one
    aggregate."""
    docs = table(spark, sf_dir, "documents").df
    t = text.token_count(F.col("text"))
    return docs.select("source", t.alias("t")).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.least(F.col("t"), F.lit(128))).cast("bigint").alias("tokens_kept"),
        F.sum(F.greatest(F.col("t") - 128, F.lit(0))).cast("bigint").alias("tokens_lost"),
        fround(
            F.sum(F.greatest(F.col("t") - 128, F.lit(0)))
            / F.sum("t").cast("double"),
            6,
        ).alias("loss_frac"),
    )


@query(
    "quality_length_correlation",
    f"""
    WITH w AS ({{_QUALITY_CTE}}),
    f AS (
      SELECT source, CAST(length(text) AS DOUBLE) AS len,
             floor(1.0 / (1.0 + exp(-((-3.0)
               + 0.5 * ln(CAST(length(text) AS DOUBLE) + 1.0)
               + 6.0 * (CASE WHEN tokens = 0 THEN 0.0
                             ELSE CAST(stop_hits AS DOUBLE) / tokens END)
               - 8.0 * (CASE WHEN length(text) = 0 THEN 0.0
                             ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                                  / length(text) END)
               - 0.3 * abs((CASE WHEN len(words) = 0 THEN 0.0
                                 ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
                                      / len(words) END) - 5.0))))
               * 10000 + 0.5) AS q
      FROM w
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           floor(corr(q, len) * 1000000 + 0.5) / 1000000 AS quality_length_corr
    FROM f GROUP BY source
    """.replace("{_QUALITY_CTE}", _QUALITY_CTE),
)
def quality_length_correlation(spark, sf_dir):
    """Does longer mean better, per source? Pearson correlation between
    the quality score and document length inside each source — grouped
    algebraic moments, one aggregate pass (a strong positive corr usually
    means the quality model is just measuring length)."""
    docs = _spread(table(spark, sf_dir, "documents")).df
    q = F.floor(text.logistic_quality(F.col("text")) * 10000.0 + F.lit(0.5))
    return (
        docs.select("source", q.alias("q"), F.length("text").cast("double").alias("len"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            fround(F.corr("q", "len"), 6).alias("quality_length_corr"),
        )
    )


@query(
    "hourly_seasonality",
    """
    WITH per AS (
      SELECT hour(CAST(ts AS TIMESTAMP)) AS h, count(*) AS n FROM events GROUP BY h
    ),
    t AS (SELECT sum(n) AS total FROM per)
    SELECT h, CAST(n AS BIGINT) AS n,
           floor(n / (t.total / 24.0) * 1000000 + 0.5) / 1000000
             AS seasonality_index
    FROM per, t ORDER BY h
    """,
)
def hourly_seasonality(spark, sf_dir):
    """Diurnal seasonality index: each hour's event share relative to a
    uniform clock (index 1.0 = flat) — the profile capacity planning and
    anomaly baselines read. 24-row aggregate; the total rides as a lazy
    scalar."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").df
    per = ev.groupBy(F.hour("ts").alias("h")).agg(F.count(F.lit(1)).alias("n"))
    # the normalizing total is a global-window sum over the 24-row
    # aggregate — the one-row cross join re-executed the whole scan
    total = F.sum("n").over(Window.partitionBy())
    return (
        per.select(
            "h",
            F.col("n").cast("bigint").alias("n"),
            fround(F.col("n") / (total / 24.0), 6).alias("seasonality_index"),
        )
        .orderBy("h")
    )


@query(
    "price_consistency_audit",
    """
    SELECT p_partkey, CAST(n AS BIGINT) AS n,
           floor(cv * 1000000 + 0.5) / 1000000 AS cv
    FROM (
      SELECT l_partkey AS p_partkey, count(*) AS n,
             stddev_samp(l_extendedprice / l_quantity)
               / avg(l_extendedprice / l_quantity) AS cv
      FROM lineitem GROUP BY l_partkey HAVING count(*) >= 20
    ) ORDER BY cv DESC, p_partkey LIMIT 15
    """,
)
def price_consistency_audit(spark, sf_dir):
    """Pricing-consistency audit: parts whose unit price varies most
    across line items (coefficient of variation over algebraic moments),
    min support 20 — the catalog-anomaly sweep. One aggregate, heap
    top-15 on the rounded CV."""
    li = table(spark, sf_dir, "lineitem").df
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    per = (
        li.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.stddev_samp(unit) / F.avg(unit)).alias("cv"),
        )
        .where(F.col("n") >= 20)
    )
    return (
        per.select(
            "p_partkey",
            F.col("n").cast("bigint").alias("n"),
            fround(F.col("cv"), 6).alias("cv"),
        )
        .orderBy(F.col("cv").desc(), "p_partkey")
        .limit(15)
    )


@query(
    "spend_lognormal_fit",
    """
    WITH per AS (
      SELECT o_custkey, sum(o_totalprice) AS spend FROM orders GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           floor(avg(ln(spend)) * 1000000 + 0.5) / 1000000 AS mu_log,
           floor(stddev_samp(ln(spend)) * 1000000 + 0.5) / 1000000 AS sigma_log,
           floor(exp(avg(ln(spend))) * 100 + 0.5) / 100 AS geometric_mean,
           floor(avg(spend) * 100 + 0.5) / 100 AS arithmetic_mean
    FROM per WHERE spend > 0
    """,
)
def spend_lognormal_fit(spark, sf_dir):
    """Log-normal fit of per-customer spend (mu/sigma of ln, geometric vs
    arithmetic mean) — the two parameters a simulator or an anomaly
    threshold needs for a heavy-tailed metric; the geo/arith gap is the
    skewness tell. Algebraic moments only."""
    orders = table(spark, sf_dir, "orders").df
    per = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    ln = F.log("spend")
    return per.where(F.col("spend") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fround(F.avg(ln), 6).alias("mu_log"),
        fround(F.stddev_samp(ln), 6).alias("sigma_log"),
        fround(F.exp(F.avg(ln)), 2).alias("geometric_mean"),
        fround(F.avg("spend"), 2).alias("arithmetic_mean"),
    )


@query(
    "order_size_distribution",
    """
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(avg(order_value) * 100 + 0.5) / 100 AS avg_value
    FROM (
      SELECT l_orderkey, count(*) AS n_lines, sum(l_extendedprice) AS order_value
      FROM lineitem GROUP BY l_orderkey
    ) GROUP BY n_lines
    """,
)
def order_size_distribution(spark, sf_dir):
    """Order-size histogram (lines per order x average value): the
    double-aggregation shape — per-order rollup, then a distribution over
    the rollup. The second aggregate sees orders, never line items."""
    li = table(spark, sf_dir, "lineitem").df
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("l_extendedprice").alias("order_value"),
    )
    return per.groupBy(F.col("n_lines").cast("bigint").alias("n_lines")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        fround(F.avg("order_value"), 2).alias("avg_value"),
    )


@query(
    "repurchase_interval",
    """
    WITH seq AS (
      SELECT o_custkey,
             epoch_us(CAST(o_orderdate AS TIMESTAMP))
               - lag(epoch_us(CAST(o_orderdate AS TIMESTAMP)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS gap_us
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_intervals,
           floor(quantile_cont(gap_us / 86400000000.0, 0.5) * 10000 + 0.5) / 10000
             AS p50_days,
           floor(quantile_cont(gap_us / 86400000000.0, 0.9) * 10000 + 0.5) / 10000
             AS p90_days,
           floor(avg(gap_us / 86400000000.0) * 10000 + 0.5) / 10000 AS mean_days
    FROM seq WHERE gap_us IS NOT NULL
    """,
)
def repurchase_interval(spark, sf_dir):
    """Repurchase-cadence distribution: per-customer gaps between
    consecutive orders (one partitioned lag window), then interval
    percentiles — the lifecycle number behind churn thresholds and
    replenishment forecasts."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").df
    ts = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    gap = ts - F.lag(ts).over(
        Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    seq = orders.select((gap / 86_400_000_000.0).alias("gap_days")).where(
        F.col("gap_days").isNotNull()
    )
    q = lambda p: fround(F.expr(f"percentile(gap_days, {p})"), 4)
    return seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        q(0.5).alias("p50_days"),
        q(0.9).alias("p90_days"),
        fround(F.avg("gap_days"), 4).alias("mean_days"),
    )


# --- round 6: interpolated bigram LM + trained-centroid IVF ------------------


@query(
    "lm_bigram_perplexity",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]{2,}') AS t
      FROM documents
    ),
    vocab AS (
      SELECT w, count(*) AS cu
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    model AS (SELECT sum(cu) AS total, count(*) AS v FROM vocab),
    bi AS (
      SELECT doc_id, z[1] AS prev, z[2] AS w
      FROM (SELECT doc_id, unnest(list_zip(t[1:-2], t[2:])) AS z
            FROM toks WHERE len(t) >= 2)
    ),
    c2 AS (SELECT prev, w, count(*) AS c2 FROM bi GROUP BY prev, w),
    c1 AS (SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY prev),
    nll AS (
      SELECT doc_id, count(*) AS n_bigrams,
             -sum(ln(0.7 * (c2.c2 / c1.c1)
                     + 0.3 * ((vocab.cu + 1.0) / (model.total + model.v))))
               / count(*) AS nll
      FROM bi JOIN c2 USING (prev, w) JOIN c1 USING (prev)
              JOIN vocab ON bi.w = vocab.w, model
      GROUP BY doc_id
    )
    SELECT CAST(floor(nll * 10 + 0.5) / 10 AS DOUBLE) AS nll_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM nll GROUP BY nll_bucket
    """,
)
def lm_bigram_perplexity(spark, sf_dir):
    """Jelinek-Mercer interpolated bigram LM (lambda=0.7, add-one unigram
    backoff) trained on the corpus itself — the KenLM-style local-fluency
    signal `lm_perplexity`'s unigram model can't see (shuffled common
    words score well under unigrams but terribly here). Per-doc mean
    bigram NLL rolled into 0.1-nat buckets. Bigrams are one map-side
    slice+zip over the token array (no positional self-join); the model
    is three map-side-combinable count aggregates."""
    docs = table(spark, sf_dir, "documents").df
    scores = text.bigram_lm_scores(docs, lam=0.7)
    return (
        scores.withColumn("nll_bucket", fround(F.col("nll"), 1))
        .groupBy("nll_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


@query(
    "similarity_ivf_trained",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(3 * count(*) AS BIGINT) AS n_truth,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8
    """,
)
def similarity_ivf_trained(spark, sf_dir):
    """End-to-end trained-centroid IVF: Spark ML KMeans centroids
    (fit_centroids, fixed seed) -> batch IVF probe (ivf_knn_join: corpus
    cells assigned map-side, queries exploded to their nprobe cells, one
    cell EQUI-join instead of the exact kNN's corpus x queries product) ->
    recall@3 against the exact knn_join ground truth. One audit row:
    (n_queries, n_truth, recall_ok). The deterministic halves (query
    count, exact-kNN truth size = 3 per query) are oracle-computed; the
    KMeans-dependent recall — not expressible in DuckDB — is published as
    a FLOORED boolean (mean recall@3 >= 0.8 probing half the cells), so
    the oracle's literal TRUE is a real gate: a recall collapse reds the
    driver row. The tight 0.9 floor and per-query detail live in pytest
    (tests/test_llm.py::test_ivf_knn_join_recall_and_full_probe_exactness;
    observed mean at sf0.01 is 0.9167 — the 0.8 gate floor leaves a
    two-miss buffer against float-summation-order drift in KMeans)."""
    emb = table(spark, sf_dir, "embeddings").df
    qs = emb.filter(F.col("vec_id") < 8)
    cents = similarity.fit_centroids(emb, 16, max_iter=8, seed=0)
    truth = similarity.knn_join(emb, qs, k=3)
    approx = similarity.ivf_knn_join(emb, qs, cents, k=3, nprobe=8)
    hits = truth.join(approx, on=["query_id", "vec_id"], how="left_semi")
    per_q = (
        truth.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_truth"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            on="query_id",
            how="left",
        )
        .select(
            "query_id",
            "n_truth",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth")).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("n_truth").cast("bigint").alias("n_truth"),
        (F.avg("recall") >= F.lit(0.8)).alias("recall_ok"),
    )


@query(
    "json_variant_shred",
    """
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
    FROM documents
    GROUP BY source, lang
    """,
)
def json_variant_shred(spark, sf_dir):
    """Semi-structured round trip through Spark 4 VARIANT: each document
    is serialized to an open JSON envelope (id + nested meta object),
    parsed back with parse_json, and the analysis columns are SHREDDED
    out via typed JSONPath access (functions/variant.py) before a normal
    group-aggregate. The oracle computes the same rollup straight from
    the parquet columns, so a hash match proves the JSON -> VARIANT ->
    typed-path pipeline is lossless. Plan: map-side codegen projection
    (no Python, no shuffle) feeding one partial-agg exchange."""
    from graphique_spark.functions import variant as V

    docs = table(spark, sf_dir, "documents").df
    js = docs.select(
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.struct(F.col("source"), F.col("lang"), F.col("n_chars")).alias(
                    "meta"
                ),
            )
        ).alias("envelope")
    )
    shredded = V.shred_variant(
        js.select(V.to_variant("envelope").alias("v")),
        "v",
        {
            "source": ("$.meta.source", "string"),
            "lang": ("$.meta.lang", "string"),
            "n_chars": ("$.meta.n_chars", "bigint"),
        },
    )
    return shredded.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum((F.col("n_chars") > 300).cast("int")).cast("bigint").alias("n_long"),
    )


@query(
    "retrieval_hybrid_rrf",
    f"""
    WITH terms AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{{2,}}')) AS term
      FROM documents
    ),
    doclen AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doclen),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms
      WHERE term IN ('spark', 'hash', 'window', 'batch')
      GROUP BY doc_id, term
    ),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    bm_scored AS (
      SELECT tf.doc_id,
             floor(sum(ln(1.0 + (stats.n - docfreq.df + 0.5) / (docfreq.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * doclen.dl / stats.avgdl)))
               * 1000000 + 0.5) / 1000000 AS score
      FROM tf JOIN docfreq USING (term) JOIN doclen USING (doc_id), stats
      GROUP BY tf.doc_id
    ),
    bm_cand AS (SELECT doc_id, score FROM bm_scored
                ORDER BY score DESC, doc_id LIMIT 100),
    bm_rank AS (SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS r
                FROM bm_cand),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    emb_scored AS (
      SELECT e.vec_id AS doc_id,
             floor({_cos_frag("e.v", "qv")} * 1000000 + 0.5) / 1000000 AS cosine
      FROM e, q
    ),
    emb_cand AS (SELECT doc_id, cosine FROM emb_scored
                 ORDER BY cosine DESC, doc_id LIMIT 100),
    emb_rank AS (SELECT doc_id,
                        row_number() OVER (ORDER BY cosine DESC, doc_id) AS r
                 FROM emb_cand),
    fused AS (
      SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
             coalesce(1.0 / (60 + b.r), 0.0) + coalesce(1.0 / (60 + v.r), 0.0)
               AS rrf
      FROM (SELECT * FROM bm_rank WHERE r <= 50) b
      FULL JOIN (SELECT * FROM emb_rank WHERE r <= 50) v USING (doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           floor(rrf * 1000000000 + 0.5) / 1000000000 AS rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 15
    """,
)
def retrieval_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009,
    the standard lexical+vector combiner behind every RAG stack): BM25
    top-50 and embedding-cosine top-50 are each ranked deterministically
    (score rounded to 6 decimals, doc_id tie-break), fused with
    1/(60+rank) weights through a full outer join on doc_id, top-15 out.
    Both legs are bounded (<= 50 rows each) so the fuse join and the rank
    windows cost nothing at any corpus size; the expensive parts are the
    same BM25/topk plans already audited for scale."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").df
    emb = table(spark, sf_dir, "embeddings").df

    bm = text.bm25_topk(docs, ["spark", "hash", "window", "batch"], k=100)
    bm = bm.select("doc_id", fround(F.col("score"), 6).alias("score"))
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    bm_rank = (
        bm.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(100)
        .withColumn("r", F.row_number().over(wb))
        .where(F.col("r") <= 50)
        .select("doc_id", "r")
    )

    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cos = similarity.brute_force_topk(emb, qvec, k=100)
    cos = cos.select(
        F.col("vec_id").alias("doc_id"), fround(F.col("cosine"), 6).alias("cosine")
    )
    wv = Window.orderBy(F.col("cosine").desc(), F.col("doc_id"))
    emb_rank = (
        cos.orderBy(F.col("cosine").desc(), F.col("doc_id"))
        .limit(100)
        .withColumn("r", F.row_number().over(wv))
        .where(F.col("r") <= 50)
        .select("doc_id", "r")
    )

    fused = (
        bm_rank.withColumnRenamed("r", "rb")
        .join(emb_rank.withColumnRenamed("r", "rv"), on="doc_id", how="full")
        .select(
            "doc_id",
            (
                F.coalesce(1.0 / (F.col("rb") + 60), F.lit(0.0))
                + F.coalesce(1.0 / (F.col("rv") + 60), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return (
        fused.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            fround(F.col("rrf"), 9).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(15)
    )


@query(
    "approx_groupby_ci",
    """
    WITH sampled AS (
      SELECT l_returnflag, l_quantity
      FROM lineitem
      WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#'
                                || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT
            % 1000000 < 100000
    )
    SELECT l_returnflag,
           floor((count(*) / 0.1) * 10000 + 0.5) / 10000 AS est_rows,
           floor((1.96 * sqrt(count(*) * 0.9) / 0.1) * 10000 + 0.5) / 10000
             AS ci_rows,
           floor((sum(l_quantity) / 0.1) * 10000 + 0.5) / 10000
             AS est_l_quantity,
           floor((1.96 * sqrt(0.9 * sum(l_quantity * l_quantity)) / 0.1)
             * 10000 + 0.5) / 10000 AS ci_l_quantity
    FROM sampled GROUP BY l_returnflag
    """,
)
def approx_groupby_ci(spark, sf_dir):
    """Approximate query processing: group-by estimates with CLT error
    bars from a DETERMINISTIC 10% md5-hash sample (operators/approx.py) —
    the interactive-BI answer at 100 TB, where a fixed materialized
    sample answers every exploratory question at a tenth of the scan.
    Horvitz-Thompson scaling; the sample predicate is replay-stable and
    engine-portable, so DuckDB reproduces the estimates bit-for-bit.
    Pytest separately asserts the estimates bracket the TRUE totals
    within their intervals."""
    from graphique_spark.operators.approx import approx_group_agg

    li = table(spark, sf_dir, "lineitem").df
    key = F.concat_ws(
        "#", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    out = approx_group_agg(
        li, ["l_returnflag"], key, sums=["l_quantity"], fraction=0.1
    )
    return out.select(
        "l_returnflag",
        fround(F.col("est_rows"), 4).alias("est_rows"),
        fround(F.col("ci_rows"), 4).alias("ci_rows"),
        fround(F.col("est_l_quantity"), 4).alias("est_l_quantity"),
        fround(F.col("ci_l_quantity"), 4).alias("ci_l_quantity"),
    )


@query(
    "dsir_importance",
    """
    WITH tok AS (
      SELECT doc_id, tgt,
             CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 1024 AS b
      FROM (SELECT doc_id,
                   (lang = 'en' AND source IN ('src0', 'src1', 'src2')) AS tgt,
                   unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS t
            FROM documents)
    ),
    counts AS (
      SELECT b, count(*) AS c_raw,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_tgt
      FROM tok GROUP BY b
    ),
    tot AS (SELECT sum(c_raw) AS nr, sum(c_tgt) AS nt FROM counts),
    ratio AS (
      SELECT b, ln((c_tgt + 1.0) / (nt + 1024)) - ln((c_raw + 1.0) / (nr + 1024)) AS lr
      FROM counts, tot
    ),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens, sum(lr) AS w
      FROM tok JOIN ratio USING (b) GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           floor(w * 10 + 0.5) / 10 AS w_bucket
    FROM (SELECT * FROM scored
          ORDER BY floor(w * 10 + 0.5) / 10 DESC, doc_id LIMIT 25)
    """,
)
def dsir_importance(spark, sf_dir):
    """Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    rank the crawl by target-likeness under hashed bag-of-words importance
    weights — the standard recipe for tilting a 100 TB crawl toward a
    trusted domain without training a model. Target exemplars here:
    English docs from three trusted sources. The model is two 1024-bucket
    count aggregates (CONSTANT size at any corpus scale), the log-ratio
    table broadcasts, and scoring is one explode + broadcast join +
    per-doc sum; top-25 over-fetches on the 0.1-nat-rounded weight with a
    doc_id tiebreak so the cut is engine-deterministic."""
    from graphique_spark.operators.topk import top_k

    docs = table(spark, sf_dir, "documents").df
    tgt = (F.col("lang") == "en") & F.col("source").isin("src0", "src1", "src2")
    scores = text.dsir_log_weights(docs, tgt, buckets=1024)
    ranked = scores.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        fround(F.col("log_weight"), 1).alias("w_bucket"),
    )
    return top_k(ranked, ["-w_bucket", "doc_id"], 25, ())


@query(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.7
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs WHERE jaccard >= 0.7
    ),
    verts AS (SELECT DISTINCT a AS v FROM edges),
    reach(v, label) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.v
    ),
    comp AS (SELECT v, min(label) AS component FROM reach GROUP BY v),
    canon AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
    ),
    split AS (
      SELECT doc_id, grp,
             CASE WHEN CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15))
                       AS BIGINT) / 1152921504606846976.0 < 0.8 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 15))
                       AS BIGINT) / 1152921504606846976.0 < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM canon
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
    FROM split GROUP BY split
    """,
)
def split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test split: assign the split from the
    near-dup COMPONENT's canonical id, not the doc id, so two near-copies
    can never straddle train and test (the classic eval-contamination
    failure a doc-hash split silently commits at crawl scale). Pipeline:
    MinHash banding -> connected components -> canonical group id
    (singletons are their own group) -> deterministic md5 split on the
    group. By construction every member of a component lands in the same
    split; the oracle replays the full pair graph through a recursive CTE
    and re-derives the same split totals."""
    docs = table(spark, sf_dir, "documents").df
    pairs = dedup.minhash_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, min_jaccard=0.7
    )
    comps = dedup.connected_components(pairs)
    canon = docs.select("doc_id").join(
        comps.withColumnRenamed("v", "doc_id"), on="doc_id", how="left"
    ).select(
        "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("grp")
    )
    return (
        canon.withColumn(
            "split", text.assign_split(F.col("grp"), (0.8, 0.1, 0.1))
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
        )
    )


# --- round 6 (cont.): URL / domain curation ---------------------------------

#: deterministic URL derivation shared by the url_* queries: every doc gets
#: a synthetic crawl URL from its own columns (scheme-case, subdomain, TLD,
#: path and tracking-parameter variation all keyed on doc_id), so host
#: parsing, public-suffix logic, suffix blocklists and normalization are
#: all exercised. The SQL string is the byte-identical DuckDB derivation.
_URL_SQL = """
      (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      (CASE WHEN doc_id % 3 = 0 THEN 'www.'
            WHEN doc_id % 3 = 1 THEN 'cdn.assets.' ELSE '' END) ||
      source || '-data' ||
      (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END) ||
      '/docs/' || CAST(doc_id % 10 AS VARCHAR) ||
      (CASE WHEN doc_id % 3 = 0
              THEN '?utm_source=feed&page=' || CAST(doc_id % 2 AS VARCHAR)
            WHEN doc_id % 3 = 1
              THEN '?page=' || CAST(doc_id % 2 AS VARCHAR)
                   || '&fbclid=x' || CAST(doc_id AS VARCHAR)
            ELSE '' END) ||
      (CASE WHEN doc_id % 5 = 0 THEN '#s' || CAST(doc_id AS VARCHAR)
            ELSE '' END)
"""

#: registrable-domain SQL over a split host (DuckDB): last 2 labels, or 3
#: when the last 2 are a multi-label public suffix (only co.uk occurs in
#: the derived hosts)
_RD_SQL = """
      CASE WHEN len(l) <= 2 THEN host
           WHEN array_to_string(l[len(l)-1:], '.') = 'co.uk'
             THEN array_to_string(l[len(l)-2:], '.')
           ELSE array_to_string(l[len(l)-1:], '.') END
"""

_BLOCKED_DOMAINS = ["src3-data.co.uk", "src7-data.com", "assets.src1-data.com"]


def _doc_urls(spark, sf_dir):
    """documents + the derived crawl URL (Spark side of _URL_SQL)."""
    d = F.col("doc_id")
    s = lambda c: c.cast("string")
    sub = (
        F.when(d % 3 == 0, F.lit("www."))
        .when(d % 3 == 1, F.lit("cdn.assets."))
        .otherwise(F.lit(""))
    )
    qs = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&page="), s(d % 2)))
        .when(
            d % 3 == 1,
            F.concat(F.lit("?page="), s(d % 2), F.lit("&fbclid=x"), s(d)),
        )
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.when(d % 7 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        sub,
        F.col("source"),
        F.lit("-data"),
        F.when(d % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.lit("/docs/"),
        s(d % 10),
        qs,
        F.when(d % 5 == 0, F.concat(F.lit("#s"), s(d))).otherwise(F.lit("")),
    )
    # measured: spreading here LOSES (~0.7s -> ~1.0s warm at sf0.1) — the
    # URL derivation is cheap string concat and the downstream rollups are
    # shuffle-bound, so the extra exchange never pays. Unlike _doc_html
    # (regex strip chain) this stays unspread.
    docs = table(spark, sf_dir, "documents").df
    return docs.select("doc_id", "source", url.alias("url"))


@query(
    "url_domain_blocklist",
    f"""
    WITH urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    hosts AS (
      SELECT doc_id,
             lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1))
               AS host
      FROM urls
    ),
    kept AS (
      SELECT * FROM hosts
      WHERE NOT (host = 'src3-data.co.uk' OR host LIKE '%.src3-data.co.uk'
              OR host = 'src7-data.com' OR host LIKE '%.src7-data.com'
              OR host = 'assets.src1-data.com'
              OR host LIKE '%.assets.src1-data.com')
    ),
    rd AS (
      SELECT doc_id, {_RD_SQL} AS domain
      FROM (SELECT doc_id, host, string_split(host, '.') AS l FROM kept)
    )
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM rd GROUP BY domain
    """,
)
def url_domain_blocklist(spark, sf_dir):
    """UT1-style domain blocklist over derived crawl URLs: a blocked
    registrable domain bans every subdomain (www./cdn.assets. variants),
    while a blocked *host* ('assets.src1-data.com') bans only that
    subtree — plain src1-data.com pages survive. The config-sized list
    compiles to a map-only arrays_overlap over the bounded
    suffix-candidate array (llm/web.py:domain_blocklist_filter): zero
    joins, zero shuffles before the final rollup; the million-domain
    variant of the same operator broadcast-joins exploded candidates.
    Survivors roll up per registrable domain (public-suffix-aware:
    co.uk hosts keep three labels)."""
    from graphique_spark.llm import web

    urls = _doc_urls(spark, sf_dir)
    kept = web.domain_blocklist_filter(urls, "url", _BLOCKED_DOMAINS)
    return (
        kept.select(
            web.registered_domain(web.url_host(F.col("url"))).alias("domain"),
            "doc_id",
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


@query(
    "url_normalize_dedup",
    f"""
    WITH urls AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id, url,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '^[^#?]*\\?([^#]*)', 1), '&'),
               p -> p <> '' AND NOT regexp_matches(p,
                 '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref)='))), '&')
               AS qs
      FROM urls
    ),
    norm AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
             || '://'
             || lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)', 1))
             || regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
             || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS norm_url
      FROM parts
    ),
    survivors AS (
      SELECT min(doc_id) AS doc_id, norm_url FROM norm GROUP BY norm_url
    ),
    rd AS (
      SELECT doc_id, {_RD_SQL} AS domain
      FROM (SELECT doc_id,
                   string_split(regexp_extract(norm_url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)',
                     1), '.') AS l,
                   regexp_extract(norm_url,
                     '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)',
                     1) AS host
            FROM survivors)
    )
    SELECT domain, CAST(count(*) AS BIGINT) AS n_pages,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM rd GROUP BY domain
    """,
)
def url_normalize_dedup(spark, sf_dir):
    """Re-crawl dedup at the URL level: normalize (scheme/host
    lower-cased, fragment dropped, tracking params stripped, surviving
    params sorted) and keep the min-doc_id row per canonical URL — the
    derivation plants real collisions (same source+path reached with
    different scheme case, utm/fbclid noise and fragments). Exact-dedup
    shape: one groupBy on the normalized URL with a map-side-combinable
    min + a broadcast-able semi-join on the survivor ids (llm/
    web.py:url_dedup); no window over a global sort. Survivors roll up
    per registrable domain."""
    from graphique_spark.llm import web

    urls = _doc_urls(spark, sf_dir)
    survivors = web.url_dedup(urls, "url", "doc_id")
    return (
        survivors.select(
            web.registered_domain(web.url_host(F.col("url"))).alias("domain"),
            "doc_id",
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# --- round 6 (cont.): HTML main-text extraction ------------------------------

from graphique_spark.llm.web import html_text_sql as _html_text_sql

#: deterministic HTML wrapping of each document (Spark and DuckDB render
#: the same string): title/nav/footer boilerplate, a style and a script
#: block that must vanish entirely, entities, and the doc text as body
_HTML_SQL = """
      '<html><head><title>' || source || '</title>'
      || '<style>p{color:red}</style>'
      || '<script>var a="<b>' || CAST(doc_id AS VARCHAR) || '</b>";</script>'
      || '</head><body><nav>Home | ' || source || '</nav>'
      || '<h1>Doc &#39;' || CAST(doc_id AS VARCHAR) || '&#39;</h1>'
      || '<p>' || text || '</p>'
      || '<footer>&copy; ' || source || '</footer></body></html>'
"""


def _doc_html(spark, sf_dir):
    # spread before the page construction + strip chain (regex-heavy map
    # stage; single row-group scan would serialize it)
    docs = _spread(table(spark, sf_dir, "documents")).df
    s = lambda c: c.cast("string")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"), F.lit("</title>"),
        F.lit("<style>p{color:red}</style>"),
        F.lit('<script>var a="<b>'), s(F.col("doc_id")), F.lit('</b>";</script>'),
        F.lit("</head><body><nav>Home | "), F.col("source"), F.lit("</nav>"),
        F.lit("<h1>Doc &#39;"), s(F.col("doc_id")), F.lit("&#39;</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit("<footer>&copy; "), F.col("source"), F.lit("</footer></body></html>"),
    )
    return docs.select("doc_id", "source", html.alias("html"))


@query(
    "html_extract_text",
    f"""
    WITH pages AS (SELECT doc_id, source, {_HTML_SQL} AS html FROM documents),
    extracted AS (
      SELECT doc_id, source, {_html_text_sql('html')} AS txt FROM pages
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(txt)) AS BIGINT) AS extracted_chars,
           CAST(min(length(txt)) AS BIGINT) AS min_chars
    FROM extracted GROUP BY source
    """,
)
def html_extract_text(spark, sf_dir):
    """Web-crawl main-text extraction: documents are wrapped in a full
    HTML page (title/nav/footer boilerplate, style+script blocks that
    must vanish without leaking a byte, entities) and html_text strips it
    back to visible text. The whole extractor is a fixed regexp_replace
    chain (llm/web.py:HTML_STRIP_CHAIN) — map-only, one codegen stage,
    linear in page bytes; the oracle renders the SAME chain through
    html_text_sql so Java-regex and RE2 outputs are compared
    byte-for-byte via per-source char totals."""
    from graphique_spark.llm import web

    pages = _doc_html(spark, sf_dir)
    ext = pages.select(
        "source", F.length(web.html_text(F.col("html"))).alias("L")
    )
    return ext.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("L").cast("bigint").alias("extracted_chars"),
        F.min("L").cast("bigint").alias("min_chars"),
    )
