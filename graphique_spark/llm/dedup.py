"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):

* **Signatures are map-side.** Shingling and MinHash use higher-order
  functions (``transform``/``array_min``) over an in-row shingle array —
  no explode, no shuffle, no Python. A 100 TB corpus streams through the
  signature stage embarrassingly parallel.
* **The MinHash-LSH plan is built from SQL text.** The per-hash affine
  mins, the band keys and the pair-join projections are written as SQL
  strings (``selectExpr``/``where``): each projection is one py4j call
  plus one per string shipped, so a hash function adds one round trip to
  the build, where a Column tree costs one per node and dozens of
  reflection lookups per lambda. The parsed expression tree is the same
  one the Column helpers build. Shingling and ``hash60`` stay Column
  helpers, the one definition of each.
* **Only band keys shuffle.** LSH explodes to ``bands`` rows per doc (a
  small constant) and groups by band hash; candidate pairs come from
  within-bucket joins, never an all-pairs product.
* **Verification is candidate-pruned.** True Jaccard is computed only for
  candidate pairs via a join back to the (distinct) shingle arrays.

Hashes are md5-based so a SQL oracle (DuckDB) can reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphique_spark.session import local_frame, materialize

#: Mersenne prime 2^31-1: modulus for the affine MinHash permutations.
#: Operands stay < 2^62, so the arithmetic never overflows int64 in Spark
#: *or* DuckDB (which errors on BIGINT overflow rather than wrapping).
MERSENNE = 2_147_483_647


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Guarantee map-side parallelism for CPU-dense per-row stages.

    Small compressed inputs — a single parquet row group — arrive as ONE
    scan partition, serializing shingling/hashing/HOF work no matter how
    many cores exist (file-split configs cannot subdivide a row group).
    Text decompresses to far more *compute* than its file size suggests,
    so round-robin repartition up to ``defaultParallelism`` when the scan
    has fewer partitions. On any input with enough natural splits — always
    true at cluster scale — this is a no-op, so the extra shuffle only
    ever pays when it unlocks idle cores, and what it shuffles is the raw
    input rows (cheap relative to the per-row compute it parallelizes).

    ``df.rdd.getNumPartitions()`` is the one exact partition count: it
    runs the physical planner once on the driver (tens of ms, no job, no
    data). File-count heuristics (``inputFiles``) are wrong in both
    directions — large files split into many partitions (would trigger a
    useless shuffle of big data), many small files coalesce under
    ``maxPartitionBytes`` (would skip a needed spread)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def bind_once(value: Column, body) -> Column:
    """Evaluate ``value`` once per row and feed it to ``body`` as a bound
    variable — a let-binding for Column expressions.

    Catalyst substitutes a captured subtree into a HOF lambda *body*, so
    ``transform(sequence(...), lambda i: f(expensive, i))`` re-evaluates
    ``expensive`` once per ELEMENT — an O(n) array build referenced from a
    per-element lambda turns O(n^2) per row (measured 28x slower on
    800-word docs, 5.6x on 200-word docs). Routing the value through a
    single-element ``transform`` makes it a ``NamedLambdaVariable``:
    evaluated once, referenced for free. (Multiple references to the same
    subtree in ONE projection are already deduplicated by Spark's
    subexpression elimination — this helper is only needed when the
    reference sits inside a per-element lambda body.)
    """
    return F.get(F.transform(F.array(value), body), 0)


def hash60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long — the one expensive hash
    per shingle; everything downstream (MinHash permutations, SimHash bit
    votes, Jaccard sets) is cheap integer math over it."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _affine(i: int) -> tuple[int, int]:
    """Deterministic MinHash permutation coefficients (i-th hash)."""
    return 1_000_003 * i + 12_345, 999_983 * i + 7


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-grams as an array (in-row, no explode).
    NULL text yields NULL (not ``[NULL]``: length(NULL) feeds greatest/
    sequence as 1, which would fabricate a one-NULL-shingle array)."""
    if k < 1:
        # substr(i, 0) is '' for every i: all docs would share one shingle
        raise ValueError(f"k={k} must be >= 1")
    n = F.length(col) - (k - 1)
    grams = F.array_distinct(
        F.transform(F.sequence(F.lit(1), F.greatest(n, F.lit(1))), lambda i: col.substr(i, F.lit(k)))
    )
    return F.when(col.isNotNull(), grams)


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) as an array."""

    def build(words: Column) -> Column:
        count = F.greatest(F.size(words) - (n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.array_join(F.slice(words, i + 1, n), " "),
            )
        )

    # bind_once: a captured `words` would re-run the regex split per gram
    grams = bind_once(F.split(F.trim(col), r"\s+"), build)
    return F.when(col.isNotNull(), grams)


def _minhash_sql(num_hashes: int) -> list[str]:
    """``m0..m{num_hashes-1}`` as SQL text: per affine permutation, the min
    over the in-row ``hs`` hash array."""
    if num_hashes < 1:
        # no minhash at all: every band key would be md5('') (all pairs)
        raise ValueError(f"num_hashes={num_hashes} must be >= 1")
    return [
        f"array_min(transform(hs, h -> ({a} * (h % {MERSENNE}) + {b}) % {MERSENNE})) AS m{i}"
        for i, (a, b) in ((i, _affine(i)) for i in range(num_hashes))
    ]


def _min_sql(num_hashes: int, out: str = "m", where: str | None = None) -> str:
    """SQL text of the per-permutation ``min`` aggregates over ``m0..``,
    named ``{out}0..``; with ``where``, each over the rows where that boolean
    column holds. One statement carries every hash function, so the corpus
    signatures below add no py4j call per hash."""
    arg = "m{}" if where is None else f"CASE WHEN {where} THEN m{{}} END"
    return ", ".join(f"min({arg.format(i)}) AS {out}{i}" for i in range(num_hashes))


def _match_sql(a: str, b: str, num_hashes: int) -> str:
    """SQL text of ``n_matches``, the number of permutations whose mins agree
    between the signatures ``{a}0..`` and ``{b}0..``, and ``jaccard_est``,
    that number over ``num_hashes``."""
    matches = " + ".join(f"CAST({a}{i} = {b}{i} AS BIGINT)" for i in range(num_hashes))
    return f"{matches} AS n_matches, ({matches}) / {float(num_hashes)!r}D AS jaccard_est"


def _signatures(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int,
    num_hashes: int,
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, *carry, hs, m0..m{n-1}): distinct hashed-shingle set + the
    MinHash values as SEPARATE columns. Keeping the minhashes as per-column
    projections over the named ``hs`` column is load-bearing: collapsing
    them into one nested expression lets Catalyst inline the (expensive)
    shingle-hash of ``hs`` into every transform when a downstream explode
    prunes columns — re-shingling each doc ``num_hashes`` times. The
    column boundary here keeps ``hs`` computed exactly once per row
    (plan-asserted in tests).

    The first projection uses the Column helpers (``char_shingles``,
    ``hash60``); the ``num_hashes`` mins are one ``selectExpr`` of SQL text
    (:func:`_minhash_sql`), so a hash function adds one py4j call to the
    build, not a Column tree, and the parsed expression tree is the one
    the Column form would build. ``carry`` entries are column references as in ``select``; the
    second projection keeps them through ``*``, so no caller-supplied name
    is ever parsed as SQL."""
    mins = _minhash_sql(num_hashes)
    # NULL text (failed extraction) carries no shingle evidence; keeping
    # such rows gives them all-NULL minhashes, which collide into the SAME
    # band key in every band (concat_ws drops NULLs) and then verify as
    # jaccard 1.0 (NULL-set intersect/union) — m NULL docs = m^2/2 false
    # perfect pairs. They take no part in near-dup detection.
    df = ensure_parallelism(df.where(F.col(text).isNotNull()))
    hashed = F.array_distinct(
        F.transform(char_shingles(F.col(text), k), lambda s: hash60(s))
    )
    extra = list(carry or [])
    return df.select(
        F.col(id_col).alias("id"), *extra, hashed.alias("hs")
    ).selectExpr("*", *mins)


def _band_key_array(num_hashes: int, bands: int) -> str:
    """SQL text for the array of ``bands`` LSH keys over ``m0..``: each key
    is the md5 of its band's ``num_hashes // bands`` minhashes."""
    if num_hashes < 1 or bands < 1:
        raise ValueError(f"num_hashes={num_hashes} and bands={bands} must be >= 1")
    if num_hashes % bands:
        # 16 hashes / 5 bands would silently use only 15 values: the user
        # pays for num_hashes permutations but gets fewer bits of LSH
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}"
        )
    rows = num_hashes // bands
    keys = (
        "md5(concat_ws('|', " + ", ".join(f"m{b * rows + r}" for r in range(rows)) + "))"
        for b in range(bands)
    )
    return f"array({', '.join(keys)})"


def minhash_index(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Persistable MinHash index: ONE slim row per doc — (id, hs, band_keys)
    where ``hs`` is the distinct hashed-shingle set (longs) and
    ``band_keys`` the LSH band hashes. Fully map-side (in-row HOFs; nothing
    per-shingle ever shuffles).

    This is the incremental-dedup primitive for a rolling corpus: index
    each ingest batch once, PERSIST it (kilobytes per doc, partitioned
    however suits the reader), and dedup any future batch against it with
    :func:`incremental_minhash_dedup` — the historical corpus is never
    re-shingled. Persisting is not just for reuse: exploding ``band_keys``
    straight off this (unpersisted) plan makes Catalyst re-derive the
    packed array from text per consumer, which is why the in-memory
    pipelines (:func:`minhash_candidates`) build on :func:`_signatures`
    instead."""
    keys = _band_key_array(num_hashes, bands)
    return _signatures(df, text, id_col, k, num_hashes).selectExpr(
        "id", "hs", f"{keys} AS band_keys"
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.0,
    max_band_freq: int | None = None,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW ingest batch and an existing
    :func:`minhash_index` — the rolling-corpus dedup pattern: at 100 TB you
    never re-pair the whole corpus, you dedup each day's crawl against the
    persisted index and append the survivors' index rows.

    Returns (new_id, index_id, jaccard). Scale shape: the new batch is the
    small side by construction, so its exploded (band, key) rows broadcast
    and the index side is filtered MAP-SIDE — no shuffle of the historical
    index; the hash-set verify join touches only candidate ids.
    ``max_band_freq`` caps boilerplate band keys on the index side (a key
    shared by m index docs yields m pairs per colliding new doc).

    ``index`` should be a PERSISTED :func:`minhash_index` table (that is
    the whole point of the pattern); probing an unpersisted index plan
    works but re-derives its band keys from text through Catalyst's
    projection collapse.
    """
    if new_index is not None:
        # the caller already built minhash_index rows for this batch (the
        # streaming sink writes them anyway) — reuse instead of
        # re-shingling the batch a second time
        new_sigs, keys = new_index, "band_keys"
    else:
        keys = _band_key_array(num_hashes, bands)
        # materialized: consumed by the band explode AND the verify join —
        # without the cut each consumer re-shingles the whole new batch
        new_sigs = materialize(_signatures(new_docs, text, id_col, k, num_hashes))
    nb = new_sigs.selectExpr("id AS new_id", f"posexplode({keys}) AS (band, key)")
    new_hs = new_sigs.selectExpr("id AS new_id", "hs AS hs_n")
    ib = index.selectExpr("id AS index_id", "posexplode(band_keys) AS (band, key)")
    ib = _drop_hot_keys(ib, max_band_freq)
    cands = (
        ib.join(F.broadcast(nb), on=["band", "key"])
        .select("new_id", "index_id")
        .distinct()
    )
    # verify-join shape: BOTH broadcasts are bounded — the slim id pairs
    # and the per-doc new signatures. Broadcasting the pair-expanded
    # (candidate x hs_n) frame instead would fan each new doc's shingle
    # array out once per colliding index doc, an unbounded build side
    # that OOMs when hot keys make the pair count large. The index scan
    # stays map-side for both joins — zero shuffles of index data.
    cand_i = index.selectExpr("id AS index_id", "hs AS hs_i").join(
        F.broadcast(cands), on="index_id"
    )
    pairs = cand_i.join(F.broadcast(new_hs), on="new_id")
    return _verified(pairs, "new_id", "index_id", "hs_n", "hs_i", min_jaccard)


def _drop_hot_keys(banded: DataFrame, max_band_freq: int | None) -> DataFrame:
    """``banded`` without the rows of any (band, key) that more than
    ``max_band_freq`` of its rows share: a broadcast left-anti join against
    the (tiny) hot-key set. ``None`` keeps every row."""
    if max_band_freq is None:
        return banded
    hot = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_band_freq)
        .select("band", "key")
    )
    return banded.join(F.broadcast(hot), on=["band", "key"], how="left_anti")


def _verified(
    pairs: DataFrame, a: str, b: str, hs_a: str, hs_b: str, min_jaccard: float
) -> DataFrame:
    """(a, b, jaccard) of the pairs whose exact hashed-shingle Jaccard is at
    least ``min_jaccard``, as SQL text (the threshold a DOUBLE literal)."""
    inter = f"CAST(size(array_intersect({hs_a}, {hs_b})) AS DOUBLE)"
    union = f"CAST(size(array_union({hs_a}, {hs_b})) AS DOUBLE)"
    return pairs.selectExpr(a, b, f"{inter} / {union} AS jaccard").where(
        f"jaccard >= {float(min_jaccard)!r}D"
    )


def minhash_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.0,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash-LSH, with exact (hashed-)
    shingle Jaccard computed for each candidate. Returns (id_a, id_b, jaccard).

    Scale shape: signatures are FULLY map-side — each doc's shingles are
    md5-hashed ONCE into an in-row array (one ``transform``), and the
    ``num_hashes`` MinHash values are in-row ``array_min`` folds of affine
    permutations of those hashes. Nothing per-shingle ever shuffles: the
    first exchange in the whole pipeline carries one slim row per
    (doc, band). Candidates are a slim (id_a, id_b) distinct before the
    arrays are joined back for verification, so the big arrays never go
    through the pair-dedup shuffle.

    ``max_band_freq`` is the boilerplate-skew guard: a band key shared by m
    docs yields m²/2 candidate pairs, so one boilerplate bucket (headers,
    licenses, templates) can dominate the whole join. Keys above the cap
    are dropped via a broadcast anti-join against the (tiny) hot-key set —
    boilerplate that common isn't a useful near-dup signal anyway.
    """
    keys = _band_key_array(num_hashes, bands)
    # materialized: sigs feeds the band explode AND both verify-join
    # sides — without the cut Catalyst re-derives the shingle hashing
    # (the dominant cost) once per consumer
    sigs = materialize(_signatures(df, text, id_col, k, num_hashes))
    banded = _drop_hot_keys(
        sigs.selectExpr("id", f"posexplode({keys}) AS (band, key)"), max_band_freq
    )
    left = banded.selectExpr("band", "key", "id AS id_a")
    right = banded.selectExpr("band", "key", "id AS id_b")
    cands = (
        left.join(right, on=["band", "key"])
        .where("id_a < id_b")
        .selectExpr("id_a", "id_b")
        .distinct()
    )
    pairs = cands.join(sigs.selectExpr("id AS id_a", "hs AS hs_a"), on="id_a").join(
        sigs.selectExpr("id AS id_b", "hs AS hs_b"), on="id_b"
    )
    return _verified(pairs, "id_a", "id_b", "hs_a", "hs_b", min_jaccard)


def simhash_fingerprint(shingles: Column, bits: int = 16) -> Column:
    """SimHash over a shingle array: per bit, sum +1/-1 by that bit of each
    shingle's hash; the sign pattern forms the fingerprint. Pure
    higher-order-function arithmetic (no explode, no UDF)."""
    hashed = F.transform(shingles, lambda s: hash60(s))
    def bit_vote(mask: int) -> Column:
        # closure keeps the lambda at exactly two params (acc, h) — pyspark
        # dispatches higher-order lambdas on arity
        return F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
        )

    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        fingerprint = fingerprint + F.when(bit_vote(1 << b) >= 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
    # NULL shingles (NULL text) -> NULL, matching simhash_table, which has
    # no row for such docs (explode of NULL emits nothing) — not a bogus 0
    return F.when(shingles.isNotNull(), fingerprint)


def simhash_table(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = 5, bits: int = 16
) -> DataFrame:
    """SimHash fingerprints for a whole table: explode shingles, hash each
    ONCE, then ``bits`` conditional sums folded map-side (partial agg) — one
    shuffle of (id, 16 ints). Same fingerprint as ``simhash_fingerprint``
    but linear in shingles instead of bits×shingles hash evaluations."""
    # NULL text drops out (explode of the NULL shingle array emits no
    # rows), matching simhash_fingerprint's NULL result for the same doc
    df = ensure_parallelism(df)
    exploded = df.select(
        F.col(id_col).alias(id_col), F.explode(char_shingles(F.col(text), k)).alias("s")
    ).select(id_col, hash60(F.col("s")).alias("h"))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = exploded.groupBy(id_col).agg(*votes)
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        fingerprint = fingerprint + F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return agg.select(id_col, fingerprint.alias("simhash"))


def exact_duplicates(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", normalized: bool = False
) -> DataFrame:
    """Exact-duplicate groups by content hash: returns
    (content_hash, n_copies, keep_id) for groups with n>1, where keep_id is
    the smallest id (the canonical survivor)."""
    from graphique_spark.llm.text import doc_fingerprint

    key = doc_fingerprint(F.col(text)) if normalized else F.md5(F.col(text))
    # md5(NULL)=NULL and groupBy treats NULL keys as equal: two unrelated
    # extraction-failure docs would form a bogus "duplicate" group
    df = ensure_parallelism(df.where(F.col(text).isNotNull()))
    return (
        df.select(key.alias("content_hash"), F.col(id_col).alias("id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    block_by: Column | None = None,
    n: int = 3,
    min_jaccard: float = 0.5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity join. Returns every pair with
    ``J >= min_jaccard`` as (id_a, id_b, jaccard).

    Default strategy is a **prefix-filtered set-similarity join** (the
    PPJoin family): sort each doc's hashed n-gram set; for ``J >= t`` two
    sets must share at least one token among their ``|A| - ceil(t*|A|) + 1``
    smallest — so only those prefix tokens are exploded and equi-joined to
    generate candidates, which are verified by exact intersection after a
    slim (id_a, id_b) dedup. Exact w.r.t. the threshold (no block-boundary
    loss) and scales as token-frequency², not corpus².

    Pass ``block_by`` to use coarse blocking instead (all pairs within a
    bucket, with a size-ratio prune inside the join).

    n-grams are hashed to longs up front — one md5 each, in-row."""
    df = ensure_parallelism(df)
    if block_by is None:
        return _prefix_jaccard(df, text, id_col, n, min_jaccard, checkpoint_dir)
    block = block_by
    # materialized: docs feeds both join sides — without the cut the
    # tokenize+hash of every doc runs twice
    docs = materialize(
        df.select(
            F.col(id_col).alias("id"),
            block.alias("block"),
            F.array_distinct(F.transform(word_ngrams(F.col(text), n), hash60)).alias("ng"),
        ).withColumn("sz", F.size("ng").cast("double")),
        checkpoint_dir,
    )
    left = docs.select("block", F.col("id").alias("id_a"), F.col("ng").alias("ng_a"), F.col("sz").alias("sz_a"))
    right = docs.select("block", F.col("id").alias("id_b"), F.col("ng").alias("ng_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("ng_a", "ng_b")).cast("double")
    union = F.size(F.array_union("ng_a", "ng_b")).cast("double")
    return (
        left.join(right, on="block")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= min_jaccard * F.col("sz_a"))
            & (F.col("sz_a") >= min_jaccard * F.col("sz_b"))
        )
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def _prefix_jaccard(
    df: DataFrame, text: str, id_col: str, n: int, t: float,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    # materialized: three consumers below (prefix explode + both verify
    # joins) would otherwise each re-tokenize and re-hash the full corpus
    docs = materialize(
        df.select(
            F.col(id_col).alias("id"),
            F.array_sort(
                F.array_distinct(F.transform(word_ngrams(F.col(text), n), hash60))
            ).alias("ng"),
        ).withColumn("sz", F.size("ng")),
        checkpoint_dir,
    )
    plen = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")).cast("int") + 1
    pref = docs.select(
        "id", "sz", F.explode(F.slice("ng", F.lit(1), plen)).alias("tok")
    )
    cands = (
        pref.select("tok", F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
        .join(
            pref.select("tok", F.col("id").alias("id_b"), F.col("sz").alias("sz_b")),
            on="tok",
        )
        # PPJoin length filter: J >= t forces t*|A| <= |B| <= |A|/t — prune
        # on the two ints before the (id_a, id_b) dedup shuffle
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") >= t * F.col("sz_a"))
            & (F.col("sz_a") >= t * F.col("sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = docs.select("id", "ng")
    pairs = cands.join(
        sets.select(F.col("id").alias("id_a"), F.col("ng").alias("ng_a")), on="id_a"
    ).join(sets.select(F.col("id").alias("id_b"), F.col("ng").alias("ng_b")), on="id_b")
    inter = F.size(F.array_intersect("ng_a", "ng_b")).cast("double")
    union = F.size(F.array_union("ng_a", "ng_b")).cast("double")
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
    )


#: Edge cap of the driver union-find in :func:`connected_components` (the
#: broadcast-join-threshold analogue: at most ~1 MiB collected).
_SMALL_GRAPH_EDGES = 65536
#: Label-propagation rounds :func:`connected_components` runs before it
#: switches to the large/small-star algorithm.
_LABEL_ESCALATE_ROUNDS = 8


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over candidate-pair edges — the survivor-
    selection step that turns near-dup *pairs* into dedup *groups* (every
    member of a component is a duplicate of the same canonical doc).
    Returns (v, component) where component = min doc id reachable.

    Graphs of at most ``_SMALL_GRAPH_EDGES`` edges run a driver union-find
    over one bounded edge collect. Larger graphs run min-label propagation
    (:func:`_label_components`), which escalates to large/small-star
    (:func:`_star_components`) after ``_LABEL_ESCALATE_ROUNDS``
    non-converged rounds — so deep-chain graphs resolve unattended instead
    of spinning ``max_iterations`` label rounds and raising.

    The distributed paths cut lineage once per round with
    :func:`graphique_spark.session.materialize`. No round's blocks enter
    the CacheManager: each is dropped once nothing references its frame,
    so the returned frame keeps only the last round's. ``checkpoint_dir``
    (HDFS/S3 path) writes those cuts to reliable storage instead of
    executor-local blocks, for fault tolerance on a real cluster.
    """
    edges = _undirected_edges(pairs, src, dst)
    # Small-graph fast path: under the cap a driver union-find beats N
    # iterative shuffle rounds the way a broadcast join beats a sort-merge
    # join. The sample is read straight off the edge plan, so the common
    # small graph runs no checkpoint job and persists nothing. Near-dup
    # edge sets are tiny relative to their corpora (they are pairs, not
    # docs).
    sample = edges.limit(_SMALL_GRAPH_EDGES + 1).collect()
    if len(sample) <= _SMALL_GRAPH_EDGES:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in sample:
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger root under the smaller: the root
                # invariant (root == component min) gives the same
                # labels as the distributed algorithms
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(v, find(v)) for v in parent]
        schema = edges.select(F.col("a").alias("v"), F.col("a").alias("component")).schema
        return local_frame(edges.sparkSession, labels, schema)
    # materialize once: the (possibly expensive) upstream pair pipeline
    # must not re-run inside every propagation round
    edges = materialize(edges, checkpoint_dir)
    return _label_components(edges, max_iterations, checkpoint_dir, _LABEL_ESCALATE_ROUNDS)


def _undirected_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (a, b) edges in both directions. One explode pass: a union
    of two projections of the pair pipeline executes the (expensive)
    candidate-verify subplan twice — the post-shuffle jaccard/intersect
    work is not covered by exchange reuse."""
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("__e")
        )
        .select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b"))
        .distinct()
    )


def _label_components(
    edges: DataFrame,
    max_iterations: int,
    checkpoint_dir: str | None = None,
    escalate_after: int | None = None,
) -> DataFrame:
    """Iterative min-label propagation over undirected edges. Each round is
    one slim shuffle join (edges x labels, two longs each) + a min
    aggregation. Rounds needed = graph diameter — near-dup graphs are
    shallow (dupes of dupes), so this converges in a handful of rounds.
    After ``escalate_after`` non-converged rounds the graph is deeper than
    a typical near-dup graph and :func:`_star_components` takes over."""
    labels = edges.select(F.col("a").alias("v")).distinct().withColumn(
        "component", F.col("v")
    )
    if not labels.limit(1).count():
        return labels
    for rnd in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["v"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr"))
        )
        merged = materialize(
            labels.join(nbr_min, labels["v"] == nbr_min["a"], "left")
            .select(
                "v",
                F.col("component").alias("old"),
                F.least("component", F.coalesce("nbr", "component")).alias("component"),
            ),
            checkpoint_dir,
        )
        changed = merged.filter(F.col("old") != F.col("component")).limit(1).count()
        labels = merged.select("v", "component")
        if not changed:
            return labels
        if escalate_after is not None and rnd + 1 >= escalate_after:
            return _star_components(edges, max_iterations, checkpoint_dir)
    # rounds = diameter for label propagation: exhausting the budget means
    # unconverged labels, which would silently mislabel deep chains.
    raise RuntimeError(
        f"label propagation did not converge in {max_iterations} rounds "
        "(graph diameter exceeds budget)"
    )


def _star_components(
    edges: DataFrame, max_iterations: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) over an
    undirected edge list (both directions present). Converges to a forest
    of depth-1 stars rooted at each component's minimum id in O(log n)
    rounds.

    Per round, both operations are one groupBy + one self-join on slim
    (long, long) rows — partial min aggregation map-side, no collects:

    * large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u.
    * small-star(u): over edges oriented a > b, m = min(N(u) ∪ {u});
      emit (v, m) for the small neighbors v ≤ u plus (u, m).
    """
    vertices = edges.select(F.col("a").alias("v")).distinct()
    if not vertices.limit(1).count():
        return vertices.withColumn("component", F.col("v"))
    edge_count = edges.count()
    converged = False
    for _ in range(max_iterations):
        # large-star: connect every big neighbor to the neighborhood min
        mins = edges.groupBy("a").agg(
            F.min(F.least(F.col("a"), F.col("b"))).alias("m")
        )
        large = (
            edges.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient a > b, connect small neighbors (and u) to min
        oriented = large  # large-star output is already oriented a > b
        omins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            oriented.join(omins, "a")
            .select(
                F.col("m"),
                F.when(F.col("b") == F.col("m"), F.col("a")).otherwise(F.col("b")).alias("n"),
            )
            .filter(F.col("m") != F.col("n"))
            .select(F.col("n").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        new_edges = materialize(
            # both directions from one execution of the small-star join
            # (union of two projections would run it twice per round)
            small.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a"), F.col("b")),
                        F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                    )
                ).alias("__e")
            ).select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b")),
            checkpoint_dir,
        )
        # converged when the oriented star edges are a fixed point: every
        # node's neighbors are all smaller (large-star emits nothing new).
        # Cheap detection: counts (metadata-priced on materialized sets)
        # gate the one anti-join — unequal counts prove progress for free,
        # and equal counts + empty anti-join prove set equality (both sides
        # are distinct), so the old two-full-subtract check never runs.
        new_count = new_edges.count()
        if new_count == edge_count:
            progress = new_edges.join(edges, ["a", "b"], "left_anti").limit(1).count()
        else:
            progress = 1
        edges, edge_count = new_edges, new_count
        if not progress:
            converged = True
            break
    if not converged:
        # computing roots from a partially-contracted edge set would
        # SILENTLY split real components (the label path raises for the
        # identical condition) — fail loudly instead
        raise RuntimeError(
            f"star contraction did not converge in {max_iterations} rounds"
        )
    roots = (
        edges.filter(F.col("a") > F.col("b"))
        .groupBy(F.col("a").alias("v"))
        .agg(F.min("b").alias("component"))
    )
    # star roots label themselves; isolated-after-contraction vertices too
    self_labeled = vertices.join(roots, "v", "left_anti").withColumn(
        "component", F.col("v")
    )
    return roots.union(self_labeled)


def canonical_pick(
    components: DataFrame,
    attrs: DataFrame,
    id_col: str = "doc_id",
    priority: Column | None = None,
) -> DataFrame:
    """The keep/drop decision that completes fuzzy dedup: for each near-dup
    component, keep the member with the highest ``priority`` (default
    ``n_chars`` — longest text wins; ties break to the smallest id, so the
    pick is deterministic). Returns (id_col, component, keep_id,
    is_duplicate) — ``is_duplicate`` rows are the delete list.

    Scale shape: components are slim (member, component) rows; one
    ``max_by`` aggregate over the bounded component key and one join back
    — both shuffles carry two longs + the priority, never documents."""
    from pyspark.sql import types as T

    pr = priority if priority is not None else F.col("n_chars")
    joined = components.join(
        attrs, components["v"] == attrs[id_col]
    ).select(components["v"].alias("member"), "component", pr.alias("__pr"))
    if isinstance(components.schema["v"].dataType, T.NumericType):
        # single O(1)-state aggregate: max_by on (priority, -member) makes
        # the smallest member win ties
        keep = joined.groupBy("component").agg(
            F.max_by(
                F.col("member"),
                F.struct(F.col("__pr"), (-F.col("member")).alias("nid")),
            ).alias("keep_id")
        )
    else:
        # string ids can't be negated (UnaryMinus casts to double -> NULL,
        # making the tie-break nondeterministic): two O(1)-state aggregates
        # — max priority per component, then min member among the ties
        best = joined.groupBy("component").agg(F.max("__pr").alias("__best"))
        keep = (
            joined.join(best, "component")
            .where(F.col("__pr").eqNullSafe(F.col("__best")))
            .groupBy("component")
            .agg(F.min("member").alias("keep_id"))
        )
    return joined.join(keep, "component").select(
        F.col("member").alias(id_col),
        "component",
        "keep_id",
        (F.col("member") != F.col("keep_id")).alias("is_duplicate"),
    )


def duplicate_segments(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
) -> DataFrame:
    """Segment-level duplication profile (the C4/RefinedWeb line-dedup
    shape): split each doc into consecutive ``seg_words``-word segments,
    count each segment's corpus-wide occurrences, and report per doc how
    much of it is boilerplate. Returns
    (doc_id, n_segments, n_dup_segments, dup_fraction) where a segment is
    "dup" if it occurs more than once in the corpus.

    Scale shape: segments are built in-row (slice/array_join HOFs, no
    Python), explode to ~words/seg_words rows per doc, and the frequency
    table is a map-side-combined count joined back on the segment key. At
    100 TB, segments should be md5-hashed before the shuffle (swap the
    join key for ``hash60(seg)``) — kept as raw strings here so a SQL
    oracle verifies counts without hash parity concerns; the plan shape is
    identical."""
    df = ensure_parallelism(df)

    def _segs(words: Column) -> Column:
        n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(F.slice(words, i * seg_words + 1, seg_words), " "),
        )

    # bind_once: a captured `words` would re-run the regex split per segment
    segs = bind_once(F.split(F.trim(F.col(text)), r"\s+"), _segs)
    exploded = df.select(F.col(id_col).alias("id"), F.explode(segs).alias("seg"))
    freq = exploded.groupBy("seg").agg(F.count(F.lit(1)).alias("n"))
    dup = F.sum((F.col("n") > 1).cast("long")).alias("n_dup_segments")
    return (
        exploded.join(freq, on="seg")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_segments"), dup)
        .withColumn(
            "dup_fraction", F.col("n_dup_segments") / F.col("n_segments")
        )
    )


def substring_duplicates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    window: int = 60,
    stride: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level duplicate detection (the suffix-array dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", approximated with strided fixed-width windows): slide a
    ``window``-char window every ``stride`` chars over each doc, and flag
    a window that appears verbatim in at least ``min_docs`` distinct docs.
    Returns (doc_id, n_windows, n_dup_windows, dup_fraction) for docs with
    at least one shared window.

    Unlike MinHash (whole-doc similarity) this catches *partial* overlap:
    a paragraph quoted across otherwise-unrelated docs.

    Scale shape: windows are built in-row (sequence/substr HOFs, dedup'd
    with array_distinct before the explode), the frequency table is a
    map-side-combined count on the window key, and the join back is
    AQE-broadcast when the duplicated-window set is small (it usually is —
    dup windows are the tail). A true suffix array needs a global sort; the
    strided-window form needs only one slim shuffle. At 100 TB swap the
    raw window string for ``hash60(gram)`` before the shuffle (8 bytes vs
    ``window`` bytes per row); raw strings are kept here so the SQL oracle
    verifies counts without hash-parity concerns."""
    df = ensure_parallelism(df)
    col = F.col(text)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(col) - window + 1, F.lit(1)), F.lit(stride)
    )
    grams = F.array_distinct(F.transform(starts, lambda p: col.substr(p, F.lit(window))))
    exploded = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
    freq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.sum((F.col("n_docs") >= min_docs).cast("long")).alias("n_dup_windows")
    return (
        exploded.join(freq, on="gram")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_windows"), dup)
        .where(F.col("n_dup_windows") > 0)
        .withColumn("dup_fraction", F.col("n_dup_windows") / F.col("n_windows"))
    )


def remove_duplicate_segments(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 10,
) -> DataFrame:
    """The APPLY half of C4-style segment dedup (Raffel et al. 2020 kept
    one occurrence of every duplicated three-sentence span): split docs
    into ``seg_words``-word segments, keep each distinct segment's first
    corpus occurrence (min (doc, position)) plus all unique segments, and
    reconstruct the cleaned text in original order. Returns
    (doc_id, n_kept, clean_text); documents whose every segment lost the
    keep race disappear (their text is empty).

    Scale shape: segmentation is in-row HOFs; the keep decision is ONE
    map-side-combinable aggregate per segment key (count + min(doc,pos)
    in the same groupBy) joined back to the exploded stream; reconstruction
    is a per-doc sort_array over collected (pos, seg) structs — bounded by
    the longest document, not the corpus. Same two-shuffle shape as the
    profiling pass (`duplicate_segments`)."""
    df = ensure_parallelism(df)

    def _pos_segs(words: Column) -> Column:
        n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(words, i * seg_words + 1, seg_words), " ").alias("seg"),
            ),
        )

    # bind_once: a captured `words` would re-run the regex split per segment
    segs = bind_once(F.split(F.trim(F.col(text)), r"\s+"), _pos_segs)
    ex = (
        df.select(F.col(id_col).alias("id"), F.explode(segs).alias("s"))
        .select("id", F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg"))
    )
    freq = ex.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("keep"),
    )
    kept = ex.join(freq, on="seg").where(
        (F.col("n") == 1)
        | ((F.col("id") == F.col("keep.id")) & (F.col("pos") == F.col("keep.pos")))
    )
    ordered = F.sort_array(F.collect_list(F.struct("pos", "seg")))
    return kept.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(ordered, lambda s: s["seg"]), " "
        ).alias("clean_text"),
    )


def corpus_overlap_single_pass(
    df: DataFrame,
    in_a: Column,
    in_b: Column,
    text: str = "text",
    k: int = 5,
    num_hashes: int = 32,
) -> DataFrame:
    """Estimated shingle-set Jaccard between two cohorts OF THE SAME TABLE
    (old dump vs new dump living side by side, one source vs the rest)
    from their corpus-level MinHash signatures: the fraction of matching
    permutation mins, one row out (n_matches, jaccard_est). Membership
    predicates instead of two DataFrames, so both signatures come out of
    ONE scan — per-doc permutation mins are computed map-side once, and a
    single aggregate takes the conditional min per (cohort, permutation).
    Two separate frames would scan and shingle the table twice; Catalyst
    does not merge scans across DataFrames."""
    base = ensure_parallelism(
        df.where(in_a | in_b).select(
            in_a.alias("__a"), in_b.alias("__b"), F.col(text).alias("__t")
        )
    )
    hashed = F.array_distinct(
        F.transform(char_shingles(F.col("__t"), k), lambda s: hash60(s))
    )
    # same projection-boundary discipline as _signatures: hs is computed
    # once per row behind a named column, never inlined into each transform
    sigs = base.select("__a", "__b", hashed.alias("hs")).selectExpr(
        "__a", "__b", *_minhash_sql(num_hashes)
    )
    mins = f"{_min_sql(num_hashes, 'm', '__a')}, {_min_sql(num_hashes, 'n', '__b')}"
    return sigs.sparkSession.sql(
        f"SELECT {_match_sql('m', 'n', num_hashes)} FROM (SELECT {mins} FROM {{sigs}})",
        sigs=sigs,
    )


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Asymmetric set-containment join: ordered pairs (inner, outer) where
    ``|grams(inner) ∩ grams(outer)| / |grams(inner)| >= min_containment``
    — the quote/excerpt/boilerplate-wrapper relationship Jaccard misses
    when document lengths differ wildly (a tweet fully quoted inside a
    news page has tiny Jaccard but containment 1.0).

    EXACT w.r.t. the threshold by prefix filtering the INNER side only:
    containment >= t means at most ``floor((1-t)*|A|)`` of A's tokens can
    miss from B, so some token among A's ``|A| - ceil(t*|A|) + 1``
    smallest (by hashed order) must appear in B — the candidate join
    explodes just that prefix against the outer side's full token stream,
    and ``|B| >= t*|A|`` prunes on two ints before the pair-dedup shuffle.
    Verification is one exact ``array_intersect`` over the materialized
    sets. Scales with token frequency, never corpus²."""
    df = ensure_parallelism(df)
    t = min_containment
    # materialized: the prefix explode, the full explode and both verify
    # joins read the tokenized sets
    docs = materialize(
        df.select(
            F.col(id_col).alias("id"),
            F.array_sort(
                F.array_distinct(F.transform(word_ngrams(F.col(text), n), hash60))
            ).alias("ng"),
        ).withColumn("sz", F.size("ng")),
        checkpoint_dir,
    )
    plen = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")).cast("int") + 1
    pref = docs.select(
        F.col("id").alias("id_in"),
        F.col("sz").alias("sz_in"),
        F.explode(F.slice("ng", F.lit(1), plen)).alias("tok"),
    )
    full = docs.select(
        F.col("id").alias("id_out"),
        F.col("sz").alias("sz_out"),
        F.explode("ng").alias("tok"),
    )
    cands = (
        pref.join(full, on="tok")
        .filter(
            (F.col("id_in") != F.col("id_out"))
            & (F.col("sz_out") >= t * F.col("sz_in"))
        )
        .select("id_in", "id_out")
        .distinct()
    )
    sets = docs.select("id", "ng")
    pairs = cands.join(
        sets.select(F.col("id").alias("id_in"), F.col("ng").alias("ng_in")), on="id_in"
    ).join(
        sets.select(F.col("id").alias("id_out"), F.col("ng").alias("ng_out")),
        on="id_out",
    )
    containment = (
        F.size(F.array_intersect("ng_in", "ng_out")).cast("double")
        / F.size("ng_in")
    )
    return (
        pairs.withColumn("containment", containment)
        .filter(F.col("containment") >= t)
        .select("id_in", "id_out", "containment")
    )


def corpus_overlap_matrix(
    df: DataFrame,
    by: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 32,
) -> DataFrame:
    """Pairwise MinHash-overlap estimates between EVERY group of ``by`` —
    the cross-source contamination matrix a dataset registry renders —
    from ONE scan: per-doc permutation mins aggregate to one signature row
    per group (min per group per permutation), and the group×group match
    counting happens over that tiny table. A 20-source corpus costs one
    pass + a 20×20 in-memory join, not 190 pairwise scans. Returns
    (src_a, src_b, n_matches, jaccard_est) for src_a < src_b."""
    # the group label rides THROUGH the signature projection (carry=) —
    # re-attaching it afterwards by joining on id silently fans out and
    # cross-contaminates signatures whenever doc_id values repeat across
    # groups (per-source tables often reuse per-source ids)
    per_doc = _signatures(
        df.select(F.col(by).alias("__grp"), F.col(id_col), F.col(text)),
        text,
        id_col,
        k,
        num_hashes,
        carry=["__grp"],
    )
    return per_doc.sparkSession.sql(
        f"WITH a AS (SELECT __grp AS src_a, {_min_sql(num_hashes, 'a')} FROM {{sigs}} GROUP BY __grp), "
        f"b AS (SELECT __grp AS src_b, {_min_sql(num_hashes, 'b')} FROM {{sigs}} GROUP BY __grp) "
        f"SELECT src_a, src_b, {_match_sql('a', 'b', num_hashes)} FROM a JOIN b ON src_a < src_b",
        sigs=per_doc,
    )
