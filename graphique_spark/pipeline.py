"""Declarative curation pipeline runner.

The operators in :mod:`graphique_spark.llm` are the verbs; a real
training-data build chains a dozen of them in a fixed order with audited
drop counts. This module runs that chain from a plain config (JSON-able
dict), producing the curated corpus plus a per-step audit — the artifact
a data lead reviews before a corpus ships::

    config = {
        "text": "text", "id": "doc_id",
        "steps": [
            {"op": "quality_filter", "min_score": 0.25},
            {"op": "pii_redact"},
            {"op": "exact_dedup"},
            {"op": "near_dedup", "min_jaccard": 0.8},
            {"op": "decontaminate", "eval_path": ".../eval.parquet", "n": 8},
            {"op": "split", "weights": [0.96, 0.02, 0.02]},
        ],
        "output": {"dest": ".../shards", "n_shards": 64},
    }
    curated, audit = run_pipeline(spark, df, config)

CLI form (config JSON with an added ``"input": <parquet root>``)::

    python -m graphique_spark.pipeline config.json

Scale shape: every step is one of the already-audited distributed
operators (no new shuffles are introduced here); the runner adds one
``count()`` per step for the audit, read off the stage's output, which
``session.materialize`` cuts so step N+1 never re-executes steps 1..N.
For reliable lineage cuts on a real cluster pass ``checkpoint_dir`` in
the config (same contract as the dedup operators).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphique_spark.session import local_frame, materialize


def _step_quality_filter(spark, df, p, text, id_col):
    from graphique_spark.llm.text import quality_score

    min_score = float(p.get("min_score", 0.25))
    return df.where(quality_score(F.col(text)) >= min_score), {
        "min_score": min_score
    }


def _step_gopher_repetition(spark, df, p, text, id_col):
    from graphique_spark.llm.text import dup_line_fraction, top_ngram_fraction

    max_dup_lines = float(p.get("max_dup_line_fraction", 0.3))
    max_top_ngram = float(p.get("max_top_ngram_fraction", 0.2))
    return (
        df.where(dup_line_fraction(F.col(text)) <= max_dup_lines).where(
            top_ngram_fraction(F.col(text)) <= max_top_ngram
        ),
        {"max_dup_line_fraction": max_dup_lines, "max_top_ngram": max_top_ngram},
    )


def _step_pii_redact(spark, df, p, text, id_col):
    from graphique_spark.llm.text import redact_pii

    return df.withColumn(text, redact_pii(F.col(text))), {}


def _step_exact_dedup(spark, df, p, text, id_col):
    from graphique_spark.llm.dedup import exact_duplicates
    from graphique_spark.llm.text import doc_fingerprint

    normalized = bool(p.get("normalized"))
    groups = exact_duplicates(df, text=text, id_col=id_col, normalized=normalized)
    key = doc_fingerprint(F.col(text)) if normalized else F.md5(F.col(text))
    keep = df.select(F.col(id_col), key.alias("content_hash")).join(
        groups.select("content_hash", "keep_id"), on="content_hash", how="left"
    )
    survivors = keep.where(
        F.col("keep_id").isNull() | (F.col(id_col) == F.col("keep_id"))
    ).select(id_col)
    return df.join(survivors, on=id_col, how="left_semi"), {}


def _step_near_dedup(spark, df, p, text, id_col):
    from graphique_spark.llm.dedup import (
        canonical_pick,
        connected_components,
        minhash_candidates,
    )

    pairs = minhash_candidates(
        df.select(F.col(id_col).alias("doc_id"), F.col(text).alias("text")),
        num_hashes=int(p.get("num_hashes", 16)),
        bands=int(p.get("bands", 4)),
        min_jaccard=float(p.get("min_jaccard", 0.8)),
    )
    comps = connected_components(pairs, checkpoint_dir=p.get("checkpoint_dir"))
    attrs = df.select(F.col(id_col), F.length(text).alias("__len"))
    pick = canonical_pick(comps, attrs, id_col=id_col, priority=F.col("__len"))
    dupes = pick.where(F.col("is_duplicate")).select(id_col)
    return df.join(dupes, on=id_col, how="left_anti"), {
        "min_jaccard": float(p.get("min_jaccard", 0.8))
    }


def _step_decontaminate(spark, df, p, text, id_col):
    from graphique_spark.llm.text import contaminated_docs

    if "eval_path" in p:
        evals = spark.read.parquet(p["eval_path"])
    else:
        evals = local_frame(
            spark,
            [(i, t) for i, t in enumerate(p["eval_texts"])],
            "eval_id long, text string",
        )
    bad = contaminated_docs(
        df.select(F.col(id_col).alias("doc_id"), F.col(text).alias("text")),
        evals,
        n=int(p.get("n", 8)),
    ).select(F.col("doc_id").alias(id_col))
    return df.join(bad, on=id_col, how="left_anti"), {"n": int(p.get("n", 8))}


def _step_split(spark, df, p, text, id_col):
    from graphique_spark.llm.text import assign_split

    weights = tuple(p.get("weights", (0.96, 0.02, 0.02)))
    names = tuple(p.get("names", ("train", "val", "test")))
    return df.withColumn("split", assign_split(F.col(id_col), weights, names)), {
        "weights": list(weights)
    }


def _step_dsir_select(spark, df, p, text, id_col):
    """DSIR target-likeness selection (Xie et al. 2023): keep the
    ``keep_fraction`` of docs with the highest hashed bag-of-words log
    importance weight against the in-domain exemplars. ``target`` is a
    boolean SQL expression over the frame's columns (e.g.
    ``"lang = 'en' AND source = 'wiki'"``) — config is pipeline-owner
    trust, not a service-exposed escape."""
    from graphique_spark.llm.text import dsir_log_weights

    keep_fraction = float(p.get("keep_fraction", 0.5))
    buckets = int(p.get("buckets", 1024))
    scores = dsir_log_weights(
        df, F.expr(p["target"]), text=text, id_col=id_col, buckets=buckets
    )
    # token-less docs (non-Latin scripts, numeric-only, empty text) never
    # appear in scores — give them the neutral weight 0.0 (empty-product
    # importance ratio = 1) instead of silently dropping them all
    # slim (id, double) frame, materialized so the quantile action and
    # the keep join below don't each re-run the explode/model pipeline
    scored = materialize(
        df.select(id_col)
        .join(scores.select(id_col, "log_weight"), on=id_col, how="left")
        .select(
            id_col, F.coalesce("log_weight", F.lit(0.0)).alias("log_weight")
        )
    )
    # deterministic keep set: the top fraction by weight — exact rank via
    # percent_rank would need a global window; a 1-row quantile broadcast
    # keeps it scale-shaped
    [cut] = scored.agg(
        F.percentile_approx("log_weight", 1.0 - keep_fraction, 10_000)
    ).first()
    if cut is None:  # empty corpus: nothing to cut
        return df, {"keep_fraction": keep_fraction, "weight_cut": None}
    keep = scored.where(F.col("log_weight") >= cut).select(id_col)
    return df.join(keep, on=id_col, how="semi"), {
        "keep_fraction": keep_fraction,
        "weight_cut": float(cut),
    }


def _step_split_leakage_safe(spark, df, p, text, id_col):
    """Leakage-safe split: near-dup components share one split so a
    train/test boundary can never separate two near-copies (the
    eval-contamination failure a plain id-hash split commits)."""
    from graphique_spark.llm.dedup import connected_components, minhash_candidates
    from graphique_spark.llm.text import assign_split

    weights = tuple(p.get("weights", (0.96, 0.02, 0.02)))
    names = tuple(p.get("names", ("train", "val", "test")))
    pairs = minhash_candidates(
        df.select(F.col(id_col).alias("doc_id"), F.col(text).alias("text")),
        num_hashes=int(p.get("num_hashes", 16)),
        bands=int(p.get("bands", 4)),
        min_jaccard=float(p.get("min_jaccard", 0.8)),
    )
    comps = connected_components(pairs, checkpoint_dir=p.get("checkpoint_dir"))
    canon = df.select(id_col).join(
        comps.withColumnRenamed("v", id_col), on=id_col, how="left"
    ).select(
        id_col, F.coalesce(F.col("component"), F.col(id_col)).alias("__grp")
    )
    split = canon.withColumn("split", assign_split(F.col("__grp"), weights, names))
    return df.join(split.select(id_col, "split"), on=id_col), {
        "weights": list(weights),
        "min_jaccard": float(p.get("min_jaccard", 0.8)),
    }


def _step_html_extract(spark, df, p, text, id_col):
    """Replace the text column with the visible text of its HTML markup
    (``html`` names the source column; defaults to the text column
    itself). Map-only regexp chain — run it FIRST so every downstream
    quality/dedup heuristic sees prose, not tag soup."""
    from graphique_spark.llm.web import html_text

    src = p.get("html", text)
    return df.withColumn(text, html_text(F.col(src))), {"html": src}


def _step_badwords_filter(spark, df, p, text, id_col):
    """Drop docs whose blockword token fraction exceeds ``max_fraction``
    (``words`` is the policy list; docs with no tokens pass)."""
    from graphique_spark.llm.text import badword_fraction

    words = list(p["words"])
    max_fraction = float(p.get("max_fraction", 0.0))
    frac = badword_fraction(F.col(text), words)
    return df.where(frac.isNull() | (frac <= max_fraction)), {
        "n_words": len(words),
        "max_fraction": max_fraction,
    }


def _step_url_blocklist(spark, df, p, text, id_col):
    """Drop rows whose URL host is a blocked domain or subdomain of one.
    ``url`` names the URL column; ``blocked`` is the domain list (or a
    parquet path holding one ``domain`` column for UT1-scale lists)."""
    from graphique_spark.llm.web import domain_blocklist_filter

    url_col = p.get("url", "url")
    blocked = p["blocked"]
    if isinstance(blocked, str):  # parquet path: the million-domain shape
        block_df = spark.read.parquet(blocked).select("domain")
        out = domain_blocklist_filter(df, url_col, block_df, id_col=id_col)
        return out, {"url": url_col, "blocked": blocked}
    return domain_blocklist_filter(df, url_col, list(blocked)), {
        "url": url_col,
        "n_blocked_domains": len(blocked),
    }


def _step_url_dedup(spark, df, p, text, id_col):
    """Keep one row per normalized URL (re-crawl dedup): min-id survivor
    after scheme/host lowercasing, fragment drop and tracking-param
    strip."""
    from graphique_spark.llm.web import url_dedup

    url_col = p.get("url", "url")
    return url_dedup(df, url_col, id_col), {"url": url_col}


STEPS = {
    "quality_filter": _step_quality_filter,
    "badwords_filter": _step_badwords_filter,
    "gopher_repetition": _step_gopher_repetition,
    "pii_redact": _step_pii_redact,
    "exact_dedup": _step_exact_dedup,
    "near_dedup": _step_near_dedup,
    "decontaminate": _step_decontaminate,
    "split": _step_split,
    "dsir_select": _step_dsir_select,
    "split_leakage_safe": _step_split_leakage_safe,
    "html_extract": _step_html_extract,
    "url_blocklist": _step_url_blocklist,
    "url_dedup": _step_url_dedup,
}


def run_pipeline(
    spark: SparkSession, df: DataFrame, config: dict
) -> tuple[DataFrame, list[dict]]:
    """Run ``config["steps"]`` over ``df`` in order. Returns the curated
    frame and the audit: one dict per step with rows_in/rows_out/dropped
    plus the step's effective parameters. If ``config["output"]`` is set,
    the result is also exported as deterministic training shards
    (:func:`graphique_spark.llm.text.write_training_shards`)."""
    text = config.get("text", "text")
    id_col = config.get("id", "doc_id")
    audit: list[dict] = []
    # every step's output is materialized: its row count and the next
    # step both read it
    current = materialize(df)
    rows = current.count()
    for spec in config.get("steps", []):
        op = spec["op"]
        if op not in STEPS:
            raise ValueError(f"unknown pipeline op {op!r} (have {sorted(STEPS)})")
        params = {k: v for k, v in spec.items() if k != "op"}
        nxt, extra = STEPS[op](spark, current, params, text, id_col)
        nxt = materialize(nxt)
        n_out = nxt.count()
        audit.append(
            {"op": op, "rows_in": rows, "rows_out": n_out, "dropped": rows - n_out}
            | extra
        )
        current, rows = nxt, n_out
    out = config.get("output")
    if out:
        from graphique_spark.llm.text import write_training_shards

        write_training_shards(
            current, out["dest"], int(out.get("n_shards", 16)), id_col=id_col
        )
        audit.append({"op": "write_shards", "rows_in": rows, "rows_out": rows,
                      "dropped": 0, "dest": out["dest"],
                      "n_shards": int(out.get("n_shards", 16))})
    return current, audit


def main(argv: list[str] | None = None) -> None:
    """``python -m graphique_spark.pipeline config.json`` — config is the
    :func:`run_pipeline` dict plus ``"input": <parquet root>``; the audit
    prints as JSON lines."""
    from graphique_spark.session import local_session

    args = argv if argv is not None else sys.argv[1:]
    with open(args[0]) as f:
        config = json.load(f)
    spark = local_session()
    df = spark.read.parquet(config["input"])
    _, audit = run_pipeline(spark, df, config)
    for row in audit:
        print(json.dumps(row))


if __name__ == "__main__":
    main()
