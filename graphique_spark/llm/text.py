"""Text analysis for training-data pipelines: language ID, quality scoring,
token counting, fingerprinting.

Everything is built-in-function expressions (regexp/length/md5) — JVM-side,
codegen-friendly, and mirrorable in ANSI SQL for the correctness oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from graphique_spark.session import local_frame, materialize

#: tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def _hits(col: Column, words: list[str]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), F.lit(0)))


def language_id(col: Column, fallback: str = "und") -> Column:
    """Stopword-ratio language ID. Ties break in STOPWORDS key order;
    zero hits in every language yields ``fallback``."""
    hit_cols = {lang: _hits(col, words) for lang, words in STOPWORDS.items()}
    best: Column = F.lit(fallback)
    best_hits: Column = F.lit(0)
    for lang, hits in hit_cols.items():  # earlier language wins ties
        is_better = hits > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best


def token_count(col: Column) -> Column:
    """Whitespace tokenization; empty text counts 0, NULL counts NULL.
    Empty strings from leading/trailing whitespace are filtered — Spark's
    trim strips only spaces, so 'hello world\n' used to count 3."""
    toks = F.filter(F.split(col, r"\s+"), lambda t: t != "")
    return F.when(col.isNotNull(), F.size(toks))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: word-piece + digit + punctuation splits
    (a regex proxy for subword tokenizers — ~chars/4 on English prose)."""
    return F.size(
        F.regexp_extract_all(col, F.lit(r"[A-Za-z]{1,6}|[0-9]|[^\sA-Za-z0-9]"), F.lit(0))
    )


def punct_ratio(col: Column) -> Column:
    # try_divide: NULL (not an ANSI-mode error) for empty text
    return F.try_divide(
        F.length(F.regexp_replace(col, r"[^.!?,;:]", "")), F.length(col)
    )


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    # try_divide: NULL (not an ANSI-mode error) for zero-token text
    return F.try_divide(_hits(col, STOPWORDS[lang]), token_count(col))


def mean_word_length(col: Column) -> Column:
    words = F.regexp_extract_all(col, F.lit(r"[A-Za-z]+"), F.lit(0))
    total = F.aggregate(F.transform(words, F.length), F.lit(0), lambda a, x: a + x)
    return F.when(F.size(words) > 0, total.cast("double") / F.size(words))


def quality_score(col: Column) -> Column:
    """Composite quality in [0,1]: length, stopword presence, word shape,
    punctuation moderation — the usual cheap pre-filters before expensive
    model-based scoring."""
    length_ok = F.least(F.length(col).cast("double") / 500.0, F.lit(1.0))
    # zero-token text makes stopword_ratio NULL (x/0), and F.least SKIPS
    # nulls — without the coalesce an empty doc would take the full 1.0
    # stopword credit instead of 0
    stop = F.least(F.coalesce(stopword_ratio(col), F.lit(0.0)) * 5.0, F.lit(1.0))
    wlen = mean_word_length(col)
    wlen_ok = F.when((wlen >= 3) & (wlen <= 8), 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio(col) < 0.1, 1.0).otherwise(0.5)
    return (length_ok + stop + wlen_ok + punct_ok) / 4.0


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


def doc_fingerprint(col: Column) -> Column:
    """Content fingerprint over normalized text (near-dup-stable for
    punctuation/case/whitespace variants)."""
    return F.md5(normalize_text(col))


def chunk_text(col: Column, size: int = 64, overlap: int = 16) -> Column:
    """Split text into word chunks of ``size`` tokens with ``overlap``
    tokens of context between consecutive chunks — the standard shape for
    embedding/pretraining corpora. Returns an array of chunk strings
    (in-row HOFs; explode downstream to get one row per chunk)."""
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    step = size - overlap

    def _chunks(words: Column) -> Column:
        n_chunks = F.greatest(
            F.ceil((F.size(words) - F.lit(overlap)) / F.lit(step)).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(words, i * step + 1, size), " "),
        )

    # bind_once: a captured `words` would re-run the regex split per chunk
    from graphique_spark.llm.dedup import bind_once

    chunks = bind_once(F.split(F.trim(col), r"\s+"), _chunks)
    # NULL text -> NULL, not a phantom [NULL] chunk row after explode
    return F.when(col.isNotNull(), chunks)


def _all_word_ngrams(col: Column, n: int) -> Column:
    """Every word n-gram occurrence (space-joined), duplicates kept — the
    multiset the repetition metrics count over."""
    def _grams(words: Column) -> Column:
        count = F.greatest(F.size(words) - (n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )

    # bind_once: a captured `words` would re-run the regex split per gram
    from graphique_spark.llm.dedup import bind_once

    grams = bind_once(F.split(F.trim(col), r"\s+"), _grams)
    # NULL text -> NULL, not a fabricated [NULL] gram (greatest(NULL,1)=1)
    return F.when(col.isNotNull(), grams)


def dup_line_fraction(col: Column) -> Column:
    """Fraction of non-empty lines that are repeats of an earlier line —
    the Gopher/MassiveText duplicate-line repetition signal (Rae et al.
    2021, app. A1.1). Boilerplate-heavy pages (nav bars, cookie banners)
    score high. Pure in-row HOF arithmetic: no explode, no shuffle."""
    # \r?\n split: a CRLF blank line would otherwise survive the space-
    # only trim as "\r" and count as a duplicate non-empty line
    lines = F.filter(
        F.transform(F.split(col, r"\r?\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    total = F.size(lines).cast("double")
    dup = total - F.size(F.array_distinct(lines))
    return F.when(total > 0, dup / total).otherwise(F.lit(0.0))


def dup_ngram_fraction(col: Column, n: int = 3) -> Column:
    """Fraction of word n-gram occurrences that are duplicates (1 -
    distinct/total) — Gopher's duplicate-n-gram repetition filter."""
    grams = _all_word_ngrams(col, n)
    total = F.size(grams).cast("double")
    return (total - F.size(F.array_distinct(grams))) / total


def top_ngram_fraction(col: Column, n: int = 2) -> Column:
    """Share of n-gram occurrences taken by the single most frequent
    n-gram — Gopher's top-n-gram repetition filter. The max frequency is
    the longest equal-run in the *sorted* gram array, found with a single
    ``aggregate`` fold: O(n log n) per row, JVM-side, no shuffle. (The
    naive per-distinct-gram count is O(n^2) per row and took minutes on
    multi-KB documents.)"""
    grams = F.array_sort(_all_word_ngrams(col, n))
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, x: Column) -> Column:
        # run starts at 0, so a first gram colliding with the "" sentinel
        # still yields the correct count of 1
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top = F.aggregate(grams, acc0, step, lambda acc: acc["best"])
    return top.cast("double") / F.size(grams)


def contaminated_docs(
    corpus,
    benchmark,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
):
    """Train/eval decontamination: corpus docs sharing at least one word
    n-gram with a benchmark/eval set, with the count of distinct shared
    n-grams — the standard pretraining leakage check (long n-gram overlap
    against held-out benchmarks). Returns (id_col, n_shared).

    Scale shape: both sides hash n-grams to longs map-side, so the join
    shuffles slim (id, long) rows, never gram strings. The benchmark side
    is left unhinted — eval sets are tiny and AQE broadcasts them when
    they fit, but a forced hint would OOM if someone passes a huge frame."""
    from graphique_spark.llm.dedup import ensure_parallelism, hash60, word_ngrams

    corpus = ensure_parallelism(corpus)
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text), n)).alias("g"))
        .select(hash60(F.col("g")).alias("h"))
        .distinct()
    )
    grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text), n)).alias("g")
    ).select(id_col, hash60(F.col("g")).alias("h"))
    return (
        grams.join(bench_grams, on="h")
        .groupBy(id_col)
        .agg(F.count_distinct("h").alias("n_shared"))
    )


def kept_lines(col: Column, min_words: int = 3) -> Column:
    """C4-style boilerplate line filter (Raffel et al. 2020 §2.2): keep a
    line only if it has at least ``min_words`` whitespace words AND ends in
    terminal punctuation (. ! ? or a closing quote). Returns the kept-line
    array (in-row HOFs; join back with array_join). Nav bars, cookie
    banners, and menu fragments fail both tests."""
    # split on \r?\n: Spark trim strips only spaces, so CRLF text would
    # keep a trailing \r on every line and fail the terminal-punctuation
    # test — silently deleting the whole document
    lines = F.filter(
        F.transform(F.split(col, r"\r?\n"), F.trim), lambda x: F.length(x) > 0
    )
    def keep(line: Column) -> Column:
        words = F.size(F.split(line, r"\s+"))
        terminal = F.substring(line, -1, 1).isin(".", "!", "?", '"')
        return (words >= min_words) & terminal

    return F.filter(lines, keep)


def logistic_quality(col: Column) -> Column:
    """Linear quality classifier in expression form: engineered features
    (log-length, stopword ratio, punctuation ratio, mean word length
    centered on prose norms) through fixed weights + sigmoid — the shape of
    a fastText-style quality model with the training externalized (swap the
    literal weights for learned ones; the plan is identical map-side
    codegen). Returns a score in (0, 1)."""
    log_len = F.log(F.length(col).cast("double") + 1.0)
    stop = stopword_ratio(col)
    punct = punct_ratio(col)
    wlen = F.coalesce(mean_word_length(col), F.lit(0.0))
    z = (
        F.lit(-3.0)
        + 0.5 * log_len
        + 6.0 * F.coalesce(stop, F.lit(0.0))
        - 8.0 * F.coalesce(punct, F.lit(0.0))
        - 0.3 * F.abs(wlen - 5.0)
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def pack_sequences(df, text: str = "text", id_col: str = "doc_id", capacity: int = 4096):
    """GPT-style sequence packing: conceptually concatenate all documents
    in ``id_col`` order and cut every ``capacity`` tokens; report where
    each document lands. Returns (id, n_tokens, token_offset, bin_first,
    bin_last) — a doc straddling a cut belongs to multiple bins, exactly
    like the standard pack-then-chunk pretraining loader.

    Scale shape: the global running offset uses the two-phase
    ``partitioned_cumsum`` (range partition + local window + #partitions
    driver summary) — never a single-task global window. Everything after
    the offset is map-side arithmetic."""
    from graphique_spark.operators.sequence import partitioned_cumsum

    c = partitioned_cumsum(
        df.select(F.col(id_col), token_count(F.col(text)).alias("n_tokens")),
        F.col("n_tokens").cast("long"),
        [id_col],
        "__end",
    )
    start = (F.col("__end") - F.col("n_tokens")).cast("long")
    bin_first = F.floor(start / capacity)
    bin_last = F.when(
        F.col("n_tokens") > 0, F.floor((F.col("__end") - 1) / capacity)
    ).otherwise(bin_first)
    return c.select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        start.alias("token_offset"),
        bin_first.cast("long").alias("bin_first"),
        bin_last.cast("long").alias("bin_last"),
    )


def mixture_sample(df, weights: dict[str, float], by: str = "source", id_col: str = "doc_id"):
    """Deterministic source-mixture resampling: scale every source group so
    the kept corpus matches the target ``weights`` proportions, keeping the
    largest total the data allows (the binding source keeps 100%; others
    downsample by hashed-id threshold — no RNG, replay-safe).

    Two passes: a bounded per-source count (collected — #sources rows),
    then a map-side keep-filter ``hash60(id) % 1e6 < threshold``. Returns
    the kept rows plus the integer ``__threshold`` column for audit."""
    from graphique_spark.llm.dedup import hash60

    counts = {
        r[by]: r["n"] for r in df.groupBy(by).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    missing = set(counts) - set(weights)
    if missing:
        raise ValueError(f"no target weight for sources {sorted(missing)}")
    if not counts:
        # empty corpus: nothing to resample (min() below would raise)
        return df.withColumn("__threshold", F.lit(0)).limit(0)
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("at least one target weight must be positive")
    shares = {s: w / wsum for s, w in weights.items() if s in counts}
    # weight 0 means "exclude this source" — it contributes nothing to the
    # feasible-total bound (its threshold is simply 0, not a div-by-zero)
    feasible = [counts[s] / shares[s] for s in counts if shares[s] > 0]
    n_total = min(feasible) if feasible else 0.0
    # zero-share short-circuit: n_total can overflow to inf when a share
    # is subnormal (1/2.2e-309 > DBL_MAX), and 0.0 * inf is nan — which
    # min(1.0, nan) silently passes through as 1.0, un-excluding the
    # zero-weight source. Threshold 0 is the only correct value there.
    # round-half-up: the counts/share -> share*n_total/counts float round
    # trip can land a hair under 1.0, and plain truncation would give the
    # BINDING source threshold 999_999 (dropping ~1 row per million the
    # docstring promises to keep)
    thresholds = {
        s: (
            0
            if shares[s] <= 0
            else int(min(1.0, shares[s] * n_total / counts[s]) * 1_000_000 + 0.5)
        )
        for s in counts
    }
    thr = F.element_at(
        F.create_map(*[F.lit(x) for kv in thresholds.items() for x in kv]), F.col(by)
    )
    return df.withColumn("__threshold", thr).filter(
        F.pmod(hash60(F.col(id_col).cast("string")), F.lit(1_000_000)) < F.col("__threshold")
    )


def build_bloom(hashes, col: str = "h", m_bits: int = 1 << 20, k: int = 3) -> list[int]:
    """Fold a column of long hashes into an ``m_bits`` Bloom bitmap,
    returned as ``m_bits / 64`` Python ints (the broadcastable form).

    Distributed construction: each hash explodes to its ``k`` probe
    positions (xxhash64 re-hashes, pure codegen), positions dedup, and a
    ``bit_or`` aggregate packs each 64-bit word — the driver collects at
    most ``m_bits / 64`` (word, bits) rows regardless of input size.

    The 100 TB story: a benchmark/blocklist gram set of 10^9 longs is
    ~8 GB as a broadcast hash set — undeliverable — but 2^27 Bloom bits
    are 16 MB at ~1% false positives, and false positives are repaired by
    an exact verify join over the (tiny) surviving slice."""
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    pos = [
        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]
    words = (
        hashes.select(F.explode(F.array(*pos)).alias("pos"))
        .distinct()
        .groupBy((F.col("pos") / 64).cast("long").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").alias("bits"))
        .collect()
    )  # bounded: <= m_bits/64 rows, never input-sized
    bitmap = [0] * (m_bits // 64)
    for row in words:
        bitmap[row["w"]] = row["bits"]
    return bitmap


def bloom_might_contain(col, bf_col, m_bits: int, k: int = 3):
    """Codegen probe: all ``k`` bits of ``col``'s positions set in the
    ``array<long>`` bitmap column ``bf_col``."""
    cond = F.lit(True)
    for i in range(k):
        pos = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
        word = F.element_at(bf_col, (pos / 64).cast("int") + 1)
        # call_function: the Python shiftleft wrapper only takes int shifts
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def contaminated_docs_bloom(
    corpus,
    benchmark,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
):
    """:func:`contaminated_docs` with a Bloom prefilter — identical output
    (false positives die in the exact verify join), different shuffle
    economics: corpus gram hashes are rejected MAP-SIDE against the
    broadcast bitmap before any exchange, so the contamination join
    shuffles only the ~overlapping slice instead of every gram in the
    corpus. Use when the benchmark gram set strains a broadcast hash join;
    the bitmap is m_bits/8 bytes no matter how many grams fold in."""
    from graphique_spark.llm.dedup import ensure_parallelism, hash60, word_ngrams

    corpus = ensure_parallelism(corpus)
    # materialized: consumed twice (bloom build + exact verify join) —
    # without the cut the whole benchmark re-shingles for the second pass,
    # doubling the benchmark-side cost this function exists to avoid
    bench_grams = materialize(
        benchmark.select(F.explode(word_ngrams(F.col(text), n)).alias("g"))
        .select(hash60(F.col("g")).alias("h"))
        .distinct()
    )
    bitmap = build_bloom(bench_grams, "h", m_bits, k)
    bf = local_frame(corpus.sparkSession, [(bitmap,)], "bf array<bigint>")
    grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text), n)).alias("g")
    ).select(id_col, hash60(F.col("g")).alias("h"))
    survivors = (
        grams.crossJoin(F.broadcast(bf))
        .filter(bloom_might_contain(F.col("h"), F.col("bf"), m_bits, k))
        .select(id_col, "h")
    )
    return (
        survivors.join(bench_grams, on="h")  # exact: kills false positives
        .groupBy(id_col)
        .agg(F.count_distinct("h").alias("n_shared"))
    )


def term_frequencies(df, text: str = "text", id_col: str = "doc_id"):
    """(doc, term, tf) rows: lowercase word terms exploded, counted per
    doc. One narrow explode + map-side-combinable count."""
    terms = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.lower(F.col(text)), F.lit(r"[a-z]{2,}"), F.lit(0))).alias("term"),
    )
    return terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def tf_idf_top_terms(df, text: str = "text", id_col: str = "doc_id", k: int = 1):
    """Top-k characteristic terms per doc by tf-idf.

    Document frequencies come from a count over the term partitioning of
    the SAME (doc, term, tf) stream — a separate docfreq aggregate +
    join re-ran the whole tokenize/term-count pipeline a second time
    (different column pruning below the two exchanges blocks reuse).
    The per-term window buffers one term group per task exactly like the
    posting-rank window in :func:`inverted_index`; idf =
    ln((N+1)/(df+1))."""
    from pyspark.sql import Window

    from graphique_spark.llm.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    tf = term_frequencies(df, text, id_col)
    n_docs = df.count()
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1))
    scored = tf.withColumn("df", dfreq).withColumn("tfidf", F.col("tf") * idf)
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(id_col, "term", "tf", "df", "tfidf")
    )


#: PII patterns shared by redaction and counting. RE2-compatible (no
#: backrefs/lookaheads) so SQL engines with RE2 regexes (DuckDB, Trino)
#: reproduce the exact same matches for verification.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d{1,2}[- ]\d{3}[- ]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(col: Column, patterns: dict | None = None) -> Column:
    """Replace PII spans with ``[KIND]`` tags — chained ``regexp_replace``,
    JVM-side, map-only (the 100 TB hot path stays in whole-stage codegen).
    Order matters: emails first so user@10.0.0.1-style hosts don't lose
    their address part to the ipv4 pass."""
    out = col
    for kind, pattern in (patterns or PII_PATTERNS).items():
        out = F.regexp_replace(out, pattern, f"[{kind.upper()}]")
    return out


def pii_counts(col: Column, patterns: dict | None = None) -> dict[str, Column]:
    """Per-kind PII match counts (``regexp_count``, map-side)."""
    return {
        f"n_{kind}": F.regexp_count(col, F.lit(pattern))
        for kind, pattern in (patterns or PII_PATTERNS).items()
    }


def word_entropy(df, text: str = "text", id_col: str = "doc_id"):
    """Per-doc vocabulary entropy ``-sum_w p_w ln p_w`` over word
    frequencies — low entropy flags repetitive/templated text (a common
    pretraining quality signal alongside the Gopher repetition fractions).

    Scale shape: explode words once; the (doc, word) count and the per-doc
    entropy reduce on the SAME key prefix, so the window + final group-by
    reuse one shuffle partitioning; all aggregates are map-side combinable.
    Returns (doc_id, n_words, n_unique_words, entropy)."""
    from pyspark.sql import Window

    from graphique_spark.llm.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    words = df.select(
        F.col(id_col).alias(id_col),
        F.explode(F.split(F.trim(F.col(text)), r"\s+")).alias("w"),
    ).where(
        # split('') yields [''] — an empty doc would otherwise count one
        # "word" and score entropy 0 (most-templated); no-word docs drop
        # out instead (same contract as the bigram LM's short-doc dropout)
        F.col("w") != ""
    )
    wc = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("c"))
    wc = wc.withColumn("total", F.sum("c").over(Window.partitionBy(id_col)))
    p = F.col("c") / F.col("total")
    return wc.groupBy(id_col).agg(
        F.first("total").alias("n_words"),
        F.count(F.lit(1)).alias("n_unique_words"),
        (-F.sum(p * F.log(p))).alias("entropy"),
    )


def weighted_sample(df, k: int, weight, id_col: str = "doc_id"):
    """Deterministic weight-proportional sample of ``k`` rows (the A-Res
    reservoir scheme, Efraimidis & Spirakis 2006, expressed as a top-k):
    each row gets key ``u^(1/w)`` with ``u`` a uniform derived from the
    row id's md5, and the k largest keys win. Inclusion probability scales
    with weight; the selection is reproducible across engines, runs, and
    cluster sizes (no RNG state).

    Scale shape: key computation is map-side; selection is a global top-k
    (``TakeOrderedAndProject`` — per-partition heaps, no global sort)."""
    from graphique_spark.llm.dedup import hash60
    from graphique_spark.operators.topk import top_k

    u = (hash60(F.col(id_col).cast("string")) + 1) / F.lit(float(2**60))
    # A-Res gives weight<=0 inclusion probability 0: exclude those rows up
    # front (1/0 is an ANSI DIVIDE_BY_ZERO job failure, and a NULL key
    # would still win a seat when k exceeds the positive-weight rows)
    eligible = df.where(F.coalesce(weight > 0, F.lit(False)))
    keyed = eligible.withColumn("__ws_key", F.pow(u, 1.0 / weight))
    return top_k(keyed, ["-__ws_key"], k, ()).drop("__ws_key")


def group_sample_k(df, by: str, k: int, id_col: str = "doc_id"):
    """Deterministic k-per-group sample: rows rank by the md5 of their id
    within each group and the first ``k`` win. Reproducible across runs,
    engines and cluster sizes (no RNG state), unbiased w.r.t. any column
    correlated with the id.

    Scale shape: one shuffle on the group key, per-group window rank —
    groups process independently, so this scales with the largest group,
    not the table. (For a global k see ``weighted_sample``;
    for fraction-per-group see ``stratified_sample``.)"""
    from pyspark.sql import Window

    rank_key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(by).orderBy(rank_key, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def bm25_topk(df, query_terms: list[str], k: int = 10,
              text: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75,
              checkpoint_dir: str | None = None):
    """Okapi BM25 retrieval: score every document against a bag of query
    terms and return the global top-k (id, score). idf uses the standard
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` form; tf saturates with ``k1``
    and normalizes by doc length against the corpus mean with ``b``.

    Scale shape: ONE explode and ONE groupBy(doc) shuffle total — per-doc
    query-term tfs are conditional counts pivoted into columns of that
    single aggregate (the query is a handful of terms, so the row stays
    narrow), doc length rides in the same aggregate, and the corpus
    stats + per-term document frequencies come from one scalar
    re-aggregate of it. Scoring is then a map-side expression; the corpus
    vocabulary never materializes and nothing joins. Selection is
    ``TakeOrderedAndProject`` (per-partition heaps), never a global sort.
    """
    from graphique_spark.llm.dedup import ensure_parallelism
    from graphique_spark.operators.topk import top_k

    terms = list(dict.fromkeys(query_terms))
    if not terms:
        # empty query (e.g. all terms filtered upstream): typed empty
        # result before paying the tokenize/aggregate jobs
        return df.select(
            F.col(id_col), F.lit(0.0).alias("score")
        ).limit(0)
    df = ensure_parallelism(df)
    tok = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text)), F.lit(r"[a-z]{2,}"), F.lit(0))
        ).alias("term"),
    )
    # materialized: the corpus-stats scalar pass and the scoring pass both
    # consume this narrow per-doc aggregate — without the cut each re-runs
    # the whole tokenize+explode+groupBy. One slim row per document.
    per_doc = materialize(
        tok.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum((F.col("term") == t).cast("long")).alias(f"__tf{i}")
                for i, t in enumerate(terms)
            ],
        ),
        checkpoint_dir,
    )
    stats = per_doc.agg(
        F.count(F.lit(1)),
        F.avg("dl"),
        *[F.sum((F.col(f"__tf{i}") > 0).cast("long")) for i in range(len(terms))],
    ).first()
    n_docs, avgdl, dfs = stats[0], stats[1], stats[2:]
    if not n_docs:
        # empty corpus: typed empty result instead of float(None) below
        return per_doc.select(id_col, F.lit(0.0).alias("score")).limit(0)
    norm_tail = k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    score = None
    for i in range(len(terms)):
        idf = math.log(1.0 + (n_docs - dfs[i] + 0.5) / (dfs[i] + 0.5))
        tf = F.col(f"__tf{i}")
        part = F.when(
            tf > 0, F.lit(idf) * (tf * (k1 + 1.0)) / (tf + norm_tail)
        ).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    scored = per_doc.select(id_col, score.alias("score")).where(F.col("score") > 0)
    return top_k(scored, ["-score", id_col], k, ())


def unigram_lm_scores(
    df, text: str = "text", id_col: str = "doc_id", checkpoint_dir: str | None = None
):
    """CCNet-style LM quality signal (Wenzek et al. 2020), with the n-gram
    LM trained on the corpus itself instead of an external KenLM: add-one-
    smoothed unigram probabilities ``p(w) = (c(w)+1)/(T+V)`` from one
    vocabulary aggregate, then each document scores its mean token
    negative-log-likelihood (== ln perplexity). Low NLL ≈ head (common,
    fluent) text; high NLL ≈ tail (rare/garbled). Returns
    (id, n_tokens, nll).

    Scale shape: exactly two shuffles — the vocabulary count and the
    per-document sum — plus one posting⋈vocab join left unhinted because a
    web-corpus vocabulary can exceed executor memory (AQE broadcasts when
    it actually fits). Nothing touches the driver except the two model
    scalars (T, V)."""
    from graphique_spark.llm.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    # materialized at the token-ARRAY level (one slim row per doc, like
    # bigram_lm_scores): the regex tokenizer otherwise re-runs for each of
    # its consumers (vocabulary count and scoring join)
    toks = materialize(
        df.select(
            F.col(id_col),
            F.regexp_extract_all(
                F.lower(F.col(text)), F.lit(r"[a-z]{2,}"), F.lit(0)
            ).alias("__t"),
        ),
        checkpoint_dir,
    )
    terms = toks.select(F.col(id_col), F.explode("__t").alias("term"))
    # materialized: the model-scalar collect and the scoring join both
    # read the vocabulary — without the cut its shuffle runs twice
    vocab = materialize(terms.groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    total, vsize = vocab.agg(F.sum("c"), F.count(F.lit(1))).first()
    if not vsize:
        # empty corpus/vocabulary: typed empty result (sum(None)+int crash)
        return terms.select(
            id_col,
            F.lit(0).cast("bigint").alias("n_tokens"),
            F.lit(0.0).alias("nll"),
        ).limit(0)
    logp = F.log((F.col("c") + 1.0) / F.lit(float(total + vsize)))
    return (
        terms.join(vocab, on="term")
        .withColumn("__lp", logp)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum("__lp") / F.count(F.lit(1))).alias("nll"),
        )
    )


def bigram_lm_scores(
    df,
    text: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    checkpoint_dir: str | None = None,
):
    """Interpolated bigram LM perplexity (Jelinek-Mercer smoothing, the
    KenLM-style backoff CCNet filtering actually uses): per bigram position
    ``p(w|prev) = lam * c(prev,w)/c(prev) + (1-lam) * p_uni(w)`` with the
    add-one-smoothed unigram as the backoff, trained on the corpus itself.
    Each document scores its mean bigram negative-log-likelihood. Captures
    local fluency the unigram model (:func:`unigram_lm_scores`) can't:
    shuffled common words score well under unigrams but terribly here.
    Returns (id, n_bigrams, nll); docs with fewer than 2 tokens drop out.

    Scale shape: bigrams come out of one map-side ``slice``+``arrays_zip``
    over the token array (no positional self-join); the model is three
    map-side-combinable count aggregates (bigram, context, unigram) over
    slim string rows; scoring is three equi-joins on the bigram stream left
    unhinted because web-scale vocabularies can exceed executor memory
    (AQE broadcasts when they fit). Only the two unigram-model scalars
    (T, V) touch the driver."""
    from graphique_spark.llm.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    # materialized: the token arrays feed the unigram vocabulary, the
    # bigram count stream and the scoring stream — without the cut each
    # one re-runs the regex tokenizer over the whole corpus, the dominant
    # per-row cost
    toks = materialize(
        df.select(
            F.col(id_col),
            F.regexp_extract_all(
                F.lower(F.col(text)), F.lit(r"[a-z]{2,}"), F.lit(0)
            ).alias("__t"),
        ),
        checkpoint_dir,
    )
    uni = toks.select(F.explode("__t").alias("w"))
    # materialized: the unigram-scalar collect and the backoff join both
    # read the vocabulary
    vocab = materialize(uni.groupBy("w").agg(F.count(F.lit(1)).alias("cu")))
    total, vsize = vocab.agg(F.sum("cu"), F.count(F.lit(1))).first()
    if not vsize:
        # empty corpus/vocabulary: typed empty result (sum(None)+int crash)
        return toks.select(
            id_col,
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(0.0).alias("nll"),
        ).limit(0)
    bi = (
        toks.where(F.size("__t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    F.slice("__t", 1, F.size("__t") - 1).alias("prev"),
                    F.slice("__t", 2, F.size("__t") - 1).alias("w"),
                )
            ).alias("__z"),
        )
        .select(F.col(id_col), F.col("__z.prev").alias("prev"), F.col("__z.w").alias("w"))
    )
    c2 = bi.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    p_uni = (F.col("cu") + 1.0) / F.lit(float(total + vsize))
    p = F.lit(float(lam)) * (F.col("c2") / F.col("c1")) + F.lit(1.0 - lam) * p_uni
    return (
        bi.join(c2, on=["prev", "w"])
        .join(c1, on="prev")
        .join(vocab, on="w")
        .withColumn("__lp", F.log(p))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("__lp") / F.count(F.lit(1))).alias("nll"),
        )
    )


def assign_split(col, weights: tuple[float, ...] = (0.98, 0.01, 0.01),
                 names: tuple[str, ...] = ("train", "val", "test")):
    """Deterministic train/val/test assignment from a row id: the id's
    md5-derived uniform picks a bucket by cumulative weight. Reproducible
    across engines/runs/cluster sizes (no RNG), stable under corpus growth
    (a doc never changes split when new docs arrive) — the property that
    keeps eval sets uncontaminated across dataset versions. Map-side
    codegen; no shuffle."""
    from graphique_spark.llm.dedup import hash60

    u = hash60(col.cast("string")) / F.lit(float(2**60))
    expr = F.lit(names[-1])
    acc = 0.0
    edges = []
    for name, w in zip(names[:-1], weights[:-1]):
        acc += w
        edges.append((acc, name))
    for edge, name in reversed(edges):
        expr = F.when(u < edge, name).otherwise(expr)
    return expr


def shard_assignment(df, n_shards: int, id_col: str = "doc_id"):
    """Deterministic shard id for training-data export: md5-derived bucket
    in [0, n_shards). Unlike round-robin or monotonic ids, the assignment
    is a pure function of the row — identical across engines, retries and
    cluster sizes — so shard manifests can be diffed between pipeline
    versions. Map-side; the subsequent `write_training_shards` repartition
    is the only shuffle."""
    from graphique_spark.llm.dedup import hash60

    return df.withColumn(
        "shard", (hash60(F.col(id_col).cast("string")) % n_shards).cast("int")
    )


def write_training_shards(df, dest: str, n_shards: int, id_col: str = "doc_id",
                          order_col: str | None = None):
    """Export a corpus as ``n_shards`` deterministic hash shards,
    hive-partitioned by ``shard=``: one shuffle to co-locate each shard,
    rows sorted within the shard file by the id's md5 (a deterministic
    *global* shuffle of training order — the standard bias-avoidance step
    before sequential epoch reads), one file per shard directory.

    At 100 TB: shards are independent write tasks; per-shard file counts
    stay 1 only while a shard fits a task — raise ``n_shards`` with the
    corpus (maxRecordsPerFile would split obliviously; shard count is the
    intended knob)."""
    from graphique_spark.llm.dedup import hash60

    sharded = shard_assignment(df, n_shards, id_col)
    order = F.md5(F.col(id_col).cast("string")) if order_col is None else F.col(order_col)
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(dest)
    )
    return dest


def token_budget_rates(
    df,
    budget_tokens: int,
    weights: dict[str, float],
    by: str = "source",
    text: str = "text",
    max_epochs: float = 4.0,
):
    """Data-mixing planner (the LLaMA/Pile recipe step): given a global
    token ``budget_tokens`` and target mixture ``weights`` per source,
    compute each source's sampling rate in epochs —
    ``rate = budget * weight / source_tokens`` capped at ``max_epochs``
    (repeating a small source beyond a few epochs stops helping). Returns
    (source, n_docs, n_tokens, rate, capped, expected_tokens); feed the
    rate into :func:`mixture_sample` (fraction) or a loader epoch count.

    Scale shape: one map-side token count + one tiny per-source aggregate;
    the weight table rides as a literal CASE expression — nothing joins,
    nothing shuffles but the per-source partials."""
    wcol = F.lit(None).cast("double")
    for name, w in weights.items():
        wcol = F.when(F.col(by) == name, F.lit(float(w))).otherwise(wcol)
    per = (
        df.select(F.col(by), token_count(F.col(text)).alias("__t"))
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").cast("bigint").alias("n_tokens"),
        )
    )
    # try_divide: a source whose docs are all empty has n_tokens=0 — rate
    # NULL (capped below), not an ANSI DIVIDE_BY_ZERO job failure
    raw = F.try_divide(F.lit(float(budget_tokens)) * wcol, F.col("n_tokens"))
    # when-guard: F.least SKIPS nulls, so a NULL raw rate would silently
    # become the max_epochs cap instead of dropping with the where below
    rate = F.when(raw.isNotNull(), F.least(raw, F.lit(float(max_epochs))))
    return per.select(
        by,
        "n_docs",
        "n_tokens",
        rate.alias("rate"),
        (raw > max_epochs).alias("capped"),
        (rate * F.col("n_tokens")).alias("expected_tokens"),
    ).where(rate.isNotNull())


def inverted_index(
    df,
    text: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_postings: int = 50,
):
    """Search-index build: (term, df, postings) where postings is the top
    ``max_postings`` documents by term frequency as ``"doc:tf"`` strings,
    best first. ``min_df`` prunes hapax noise.

    Scale shape: postings are RANKED per term with a window and truncated
    BEFORE any collect — a stop-word's million-document posting list never
    materializes in one task's memory; what reaches collect_list is at
    most ``max_postings`` rows per term. The rank window and the final
    per-term aggregate share the term hash partitioning (one shuffle)."""
    from pyspark.sql import Window

    from graphique_spark.llm.dedup import ensure_parallelism

    tf = term_frequencies(ensure_parallelism(df), text, id_col)
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col(id_col))
    ranked = tf.withColumn("__rn", F.row_number().over(w))
    # ONE consumer of the (doc, term, tf) stream: postings truncate via a
    # conditional collect (collect_list drops the when()'s nulls) and the
    # document frequency is max(row_number) = the pre-truncation posting
    # count — a separate dfreq aggregate re-ran the whole tokenize +
    # term-count pipeline, then paid a join to glue the two back together
    return (
        ranked.groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__rn") <= max_postings,
                                F.struct(
                                    F.col("__rn").alias("rn"),
                                    F.concat_ws(":", id_col, "tf").alias("p"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["p"],
                ),
                " ",
            ).alias("postings"),
            F.max("__rn").cast("bigint").alias("df"),
        )
        .where(F.col("df") >= min_df)
        .select("term", "df", "postings")
    )


def term_drift(
    df,
    in_a,
    in_b,
    text: str = "text",
    top: int = 20,
):
    """Dataset drift monitor: which terms most explain the shift between
    two cohorts of the same table (yesterday's crawl vs today's, source A
    vs B)? Per-term contribution to ``D_KL(P_a || P_b)`` with add-one
    smoothing over the joint vocabulary; the biggest positive contributors
    are the terms newly over-represented in cohort A. Returns the ``top``
    terms by |contribution| with both probabilities.

    Scale shape: ONE scan (cohort membership is a pair of flags), one
    groupBy(term) with two conditional counts, one scalar re-aggregate for
    totals, heap top-k. The vocabulary shuffles once as (term, 2 longs)."""
    from graphique_spark.llm.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    tok = df.where(in_a | in_b).select(
        in_a.alias("__a"),
        in_b.alias("__b"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text)), F.lit(r"[a-z]{2,}"), F.lit(0))
        ).alias("term"),
    )
    # materialized: the totals collect and the scored projection both
    # read the counts — without the cut the corpus tokenize + vocabulary
    # shuffle runs twice
    counts = materialize(
        tok.groupBy("term").agg(
            F.sum(F.col("__a").cast("long")).alias("ca"),
            F.sum(F.col("__b").cast("long")).alias("cb"),
        )
    )
    total_a, total_b, vocab = counts.agg(
        F.sum("ca"), F.sum("cb"), F.count(F.lit(1))
    ).first()
    if not vocab:
        # empty cohorts: typed empty drift report (None+int would crash)
        return counts.select(
            "term",
            F.lit(0).cast("bigint").alias("ca"),
            F.lit(0).cast("bigint").alias("cb"),
            F.lit(0.0).alias("p_a"),
            F.lit(0.0).alias("p_b"),
            F.lit(0.0).alias("kl_term"),
        ).limit(0)
    pa = (F.col("ca") + 1.0) / F.lit(float(total_a + vocab))
    pb = (F.col("cb") + 1.0) / F.lit(float(total_b + vocab))
    from graphique_spark.operators.topk import top_k

    scored = counts.select(
        "term",
        "ca",
        "cb",
        pa.alias("p_a"),
        pb.alias("p_b"),
        (pa * F.log(pa / pb)).alias("kl_term"),
    ).withColumn("__abs", F.abs(F.col("kl_term")))
    return top_k(scored, ["-__abs", "term"], top, ()).drop("__abs")


def temperature_shares(df, by: str = "lang", alpha: float = 0.7):
    """Multilingual temperature sampling (the mBERT/XLM-R alpha-smoothing):
    raw corpus shares p_i are flattened to ``p_i^alpha / sum(p_j^alpha)``
    so low-resource groups get boosted without drowning the head. Returns
    (group, n_docs, raw_share, sampled_share, boost) — feed sampled_share
    into :func:`mixture_sample` / :func:`token_budget_rates` weights.

    One tiny aggregate, consumed ONCE: both normalizing sums are global
    windows over the per-group frame (group-count rows, so the single
    window partition is trivially small) — the previous one-row cross
    joins each re-executed the per-group aggregate, costing three extra
    full scans of the corpus."""
    from pyspark.sql import Window

    everything = Window.partitionBy()
    per = df.groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
    shared = per.withColumn(
        "raw_share", F.col("n_docs") / F.sum("n_docs").over(everything)
    )
    powed = shared.withColumn("__p", F.pow(F.col("raw_share"), alpha))
    return (
        powed.withColumn(
            "sampled_share", F.col("__p") / F.sum("__p").over(everything)
        )
        .withColumn("boost", F.col("sampled_share") / F.col("raw_share"))
        .select(by, "n_docs", "raw_share", "sampled_share", "boost")
    )


def balanced_shards(df, n_shards: int, weight, id_col: str = "doc_id"):
    """Weight-balanced contiguous sharding: order rows by the id's md5
    (deterministic global shuffle), then cut the cumulative weight into
    ``n_shards`` equal-weight spans — every shard carries ~total/n tokens
    even when document sizes are wildly skewed, unlike count-based hash
    shards where one shard can draw all the long documents. Returns the
    input plus (cum_weight, shard).

    Scale shape: the global running total is the two-phase
    ``partitioned_cumsum`` (range partition + local window + #partitions
    driver summary) — never a single-task global window; the cut itself is
    map-side arithmetic."""
    from graphique_spark.operators.sequence import partitioned_cumsum

    w = F.col(weight) if isinstance(weight, str) else weight
    keyed = df.withColumn("__order", F.md5(F.col(id_col).cast("string")))
    cum = partitioned_cumsum(
        keyed, w.cast("double"), ["__order", id_col], "cum_weight"
    )
    total = cum.agg(F.max("cum_weight").alias("__t"))
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "shard",
            F.least(
                # try_divide + coalesce: an all-zero-weight slice (total=0)
                # degrades to shard 0 instead of ANSI DIVIDE_BY_ZERO
                F.coalesce(
                    F.try_divide(F.col("cum_weight") * n_shards, F.col("__t")).cast("int"),
                    F.lit(0),
                ),
                F.lit(n_shards - 1),
            ),
        )
        .drop("__order", "__t")
    )


def dsir_log_weights(
    raw,
    target_pred: Column,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
):
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
    score every raw document by how target-like its hashed bag-of-words
    is. Tokens fold into a FIXED space of ``buckets`` md5-hash buckets;
    the target and raw bucket distributions are add-one smoothed, and a
    document's log importance weight is the sum over its tokens of
    ``ln(p_target(bucket) / p_raw(bucket))``. High weight = resample into
    the training mix; ``target_pred`` is a boolean column marking the
    in-domain exemplar docs (they stay members of raw, as in the paper).
    Returns (id, n_tokens, log_weight).

    Scale shape: the model is two ``buckets``-wide count aggregates —
    CONSTANT size regardless of corpus bytes — so the log-ratio table is
    an explicitly-safe broadcast; scoring is one explode, one broadcast
    equi-join, one per-doc sum (map-side combined). Only the two corpus
    totals touch the driver."""
    from graphique_spark.llm.dedup import ensure_parallelism, hash60

    raw = ensure_parallelism(raw)
    tok = raw.select(
        F.col(id_col),
        target_pred.alias("__tgt"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text)), F.lit(r"[a-z]{2,}"), F.lit(0))
        ).alias("term"),
    ).select(
        id_col, "__tgt", F.pmod(hash60(F.col("term")), F.lit(buckets)).alias("b")
    )
    # materialized: the totals collect and the log-ratio projection both
    # read the counts — without the cut the whole corpus tokenize runs
    # twice to rebuild a buckets-wide (constant-size) frame
    counts = materialize(
        tok.groupBy("b").agg(
            F.count(F.lit(1)).alias("c_raw"),
            F.sum(F.col("__tgt").cast("long")).alias("c_tgt"),
        )
    )
    n_raw, n_tgt = counts.agg(F.sum("c_raw"), F.sum("c_tgt")).first()
    if not n_raw:
        return raw.select(
            id_col,
            F.lit(0).cast("bigint").alias("n_tokens"),
            F.lit(0.0).alias("log_weight"),
        ).limit(0)
    ratio = counts.select(
        "b",
        (
            F.log((F.col("c_tgt") + 1.0) / F.lit(float(n_tgt + buckets)))
            - F.log((F.col("c_raw") + 1.0) / F.lit(float(n_raw + buckets)))
        ).alias("__lr"),
    )
    return (
        tok.join(F.broadcast(ratio), on="b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lr").alias("log_weight"),
        )
    )


def badword_fraction(col: Column, words: list[str]) -> Column:
    """Fraction of tokens that hit a configured word list (C4-style
    blockword gating; the list is policy-owned config, not data). Word-
    boundary regexp count over the lowered text divided by the token
    count — map-only, one codegen stage; NULL (not a divide error) for
    empty text. The list compiles into one alternation pattern, so cost
    is independent of list length up to regex-size limits (config-sized
    lists; a corpus-sized list would use the broadcast-join shape of
    decontaminate instead). Words are regex-escaped — a list entry like
    "a.b" matches literally, not as a pattern."""
    import re

    if not words:
        return F.lit(0.0)
    pattern = r"\b(" + "|".join(re.escape(w.lower()) for w in words) + r")\b"
    hits = F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), F.lit(0)))
    return F.try_divide(hits, token_count(col))
